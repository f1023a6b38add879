package graft

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Statements
import graft.operators.{EntityQuery, Fpx, Xref}
import graft.sources.{BitmapStore, FpxStore, FtmJson, QuantileStore,
  StatementStore, SummaryStore, TopKStore, XrefStore}

/** Command-line surface mirroring the reference CLI (cli.py: init /
  * optimize, plus the store write/query paths its ftmq integration
  * exposes).
  *
  *   init <table> [--recreate]          create statement + fpx tables
  *                                      (engine.ensure, cli.py:23-33)
  *   ingest <table> <jsonl> [<ts>]      FTM entity JSONL → statements
  *                                      + fpx rows (the writer inserts
  *                                      BOTH tables, store.py:54-60)
  *   optimize <table> [--full]          compact the fpx table; --full
  *                                      also rewrites the statement
  *                                      table FINAL (engine.optimize,
  *                                      engine.py:117-125)
  *   pop <table> <entity_id>            print-and-remove one entity
  *                                      (ClickhouseWriter.pop)
  *   xref <table> [algorithm]           blocking pairs from the stored
  *                                      fpx → 14-col candidates into
  *                                      <table>_xref (+ reverse)
  *   judge <table> <l> <r> <judgement>  record a judgement and fold it
  *                                      into the stored canonical
  *                                      mapping incrementally (the
  *                                      resolver loop store.py:26-28
  *                                      delegates externally)
  *   resolve <table> [entity_id]        canonical lookup from the
  *                                      stored mapping (all, or one)
  *   migrate <table>                    detect-and-repair a VecStore
  *                                      written by an older build
  *                                      (stale pre-4dp assignments,
  *                                      unstamped _pq/_codes, crashed
  *                                      or half-finished retrains);
  *                                      idempotent — a second run
  *                                      reports nothing to do
  *   treeify <table> <topCount>         opt a populated VecStore into
  *                                      TREE coarse assignment in
  *                                      place (train over the stored
  *                                      leaves, re-assign the corpus
  *                                      through the descent)
  *   untreeify <table>                  revert a tree VecStore to flat
  *   stats <table>                      per dataset/schema counts
  *   query <table> [k=v ...]            dataset=, schema=, limit=,
  *                                      where=prop:op:value (repeat)
  *   graph <table> <verb> …             the GraphStore operational
  *                                      face: ingest edge batches,
  *                                      refresh served analytics,
  *                                      rank/community/cohesion point
  *                                      lookups, pop, staleness
  *   telemetry <base> <verb> …          the summary-store operational
  *                                      face: ingest-docs/-events fold
  *                                      batches into <base>_topk /
  *                                      _quantiles / _audience;
  *                                      topk/quantiles/audience serve
  *                                      from summaries (never a corpus
  *                                      rescan); pop-source/pop-users
  *                                      take down; optimize compacts
  *                                      (an ingest <ver> must pass
  *                                      the vers it folded)
  *   --version                          print the library version and
  *                                      exit (cli.py:14-20)
  */
object Cli {

  /** Library version, printed by `--version` (settings.VERSION in the
    * reference, cli.py:14-20).
    */
  val Version = "0.1.0"

  def main(args: Array[String]): Unit = {
    // --version answers without paying a session spin-up
    if (args.toList == List("--version")) { println(Version); return }
    // SPARK_MASTER is the deployment address; SPARK_GRAFT_CPUS sizes
    // the local master and the shuffle partitions alike
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = GraftSession(
      sys.env.getOrElse("SPARK_MASTER", s"local[$cpus]"), cpus)
    try run(spark, args.toList)
    finally spark.stop()
  }

  private[graft] def run(spark: SparkSession, args: List[String]): Unit =
    args match {
      case "--version" :: Nil =>
        println(Version)

      case "init" :: table :: rest if rest.forall(_ == "--recreate") =>
        if (rest.contains("--recreate")) {
          // engine.drop_statements (engine.py:275-282): table + fpx +
          // xref + the projection/view siblings
          val family = Seq(table, s"${table}_fpx", s"${table}_xref",
            s"${table}_xref_reverse")
          // stage siblings from interrupted compacts: the versioned
          // `_stage_N` names (r8, reclaimed safely) plus the legacy
          // pre-r8 `_compacted` names — one shared helper with compact
          family.foreach(t => graft.sources.TableSwap.dropAllStages(spark, t))
          family.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
        }
        spark.sql(
          s"""CREATE TABLE IF NOT EXISTS $table (
             |  id STRING, entity_id STRING, canonical_id STRING,
             |  prop STRING, prop_type STRING, schema STRING,
             |  value STRING, last_seen TIMESTAMP, deleted BOOLEAN,
             |  dataset STRING)
             |USING parquet PARTITIONED BY (dataset)
             |CLUSTERED BY (canonical_id) SORTED BY (canonical_id)
             |INTO 64 BUCKETS""".stripMargin)
        spark.sql(
          s"""CREATE TABLE IF NOT EXISTS ${table}_fpx (
             |  value STRING, dataset STRING, entity_id STRING,
             |  schema STRING, prop STRING, prop_type STRING,
             |  algorithm STRING)
             |USING parquet PARTITIONED BY (algorithm)
             |CLUSTERED BY (value) SORTED BY (value)
             |INTO 64 BUCKETS""".stripMargin)
        println(s"created $table, ${table}_fpx")

      case "ingest" :: table :: path :: rest =>
        val ts = rest.headOption.getOrElse("2026-01-01 00:00:00")
        // optional 4th arg: comma-separated reference props to type as
        // prop_type=entity (FTM schema refs like parent/ownershipOwner
        // — what `traverse` walks); name props carry prop_type=name
        // (the FTM schema model's typing, which the fpx feed filters
        // on — statements.py:51-57)
        val entityProps = rest.drop(1).headOption
          .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
          .getOrElse(Seq.empty)
        require(!entityProps.contains("name"),
          "'name' cannot be an entity prop: the fpx feed and the FTM " +
            "model type it as prop_type=name")
        // same id mint as the programmatic write path
        // (Statements.statementId: sha256-40 over
        // dataset.entity_id.prop.value) — a CLI-ingested statement and
        // an unpivot-written one must collapse under the same
        // ReplacingMergeTree key, or upserts silently duplicate
        val stmts = FtmJson.statements(spark, path,
          Map("name" -> "name") ++ entityProps.map(_ -> "entity"))
          .withColumn("id",
            Statements.statementId(col("dataset"), col("entity_id"),
              col("prop"), col("value"), lit(false)))
          .withColumn("last_seen", lit(ts).cast("timestamp"))
          .select("id", "entity_id", "canonical_id", "prop", "prop_type",
            "schema", "value", "last_seen", "dataset")
        // cache so the fpx derivation and the reported count reuse the
        // batch the write materialized instead of re-parsing the JSONL
        stmts.persist()
        try {
          StatementStore.append(stmts, table)
          // the writer maintains the fpx table alongside the statement
          // table (ClickhouseWriter._upsert_batch, store.py:56-60),
          // restricted to the reference's schema allowlist
          // (should_fingerprint_stmt, statements.py:52-58)
          FpxStore.append(
            Fpx.fromStatements(stmts, schemas = Fpx.DefaultSchemas),
            s"${table}_fpx")
          println(s"ingested ${stmts.count()} statements into $table")
        } finally stmts.unpersist()

      case "optimize" :: table :: rest if rest.forall(_ == "--full") =>
        // engine.optimize (engine.py:117-125): the derived tables
        // always, the statement table only on --full
        if (spark.catalog.tableExists(s"${table}_fpx"))
          FpxStore.compact(spark, s"${table}_fpx")
        if (spark.catalog.tableExists(s"${table}_xref"))
          XrefStore.compact(spark, s"${table}_xref")
        if (rest.contains("--full")) StatementStore.compact(spark, table)
        println(s"optimized $table")

      case "pop" :: table :: entityId :: Nil =>
        // ClickhouseWriter.pop (store.py:66-74): print-and-remove
        val popped = StatementStore.pop(spark, table, entityId)
        popped.collect().foreach(r => println(r.mkString("\t")))
        println(s"popped ${popped.count()} statements of $entityId")

      case "xref" :: table :: rest =>
        // candidate generation over the STORED fpx table per algorithm
        // (test_fingerprints.py runs the blocking query per algorithm),
        // enriched to 14-col xref rows and upserted into the stored
        // xref table + its reverse projection.
        val algorithm = rest.headOption.getOrElse("fingerprint")
        val pairs = FpxStore.blocks(spark, s"${table}_fpx", algorithm)
        val attrs = Xref.entityAttrs(StatementStore.readFinal(spark, table))
        val ts = System.currentTimeMillis()
        XrefStore.append(
          Xref.candidates(pairs, attrs, ts = lit(ts)), s"${table}_xref")
        val n = XrefStore.readLatest(spark, s"${table}_xref").count()
        println(s"xref $table: $n live candidate pairs")

      case "judge" :: table :: leftId :: rightId :: judgement :: Nil =>
        // the resolver edit loop the reference delegates to its
        // external nomenklatura Resolver (store.py:26-28), closed
        // in-engine: record the judgement in the xref store AND fold
        // it into the stored canonical mapping incrementally
        // (XrefStore.applyBatch — O(component) delta on positives,
        // exact full-recompute fallback on retractions)
        val attrs = Xref.entityAttrs(StatementStore.readFinal(spark, table))
          .filter(col("entity_id").isin(leftId, rightId))
        val pair = spark.createDataFrame(
          java.util.Arrays.asList(
            org.apache.spark.sql.Row(leftId, rightId)),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("left_id",
              org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("right_id",
              org.apache.spark.sql.types.StringType))))
        // strictly-monotone judgement timestamp: wall clock bumped
        // past the stored maxima, so two rapid judgements of one pair
        // can never tie on the ReplacingMerge version (a tied ts makes
        // row_number pick an arbitrary winner — a positive→negative
        // correction could silently lose) and the mapping delta's ver
        // always supersedes. Column-pruned max() scans at CLI edit-loop
        // grain; parquet footer stats keep them cheap.
        val ts = {
          def storedMax(t: String, c: String): Long =
            if (!spark.catalog.tableExists(t)) 0L
            else Option(spark.table(t).agg(max(col(c))).collect()(0).get(0))
              .fold(0L)(_.asInstanceOf[Long])
          val xt = s"${table}_xref"
          math.max(System.currentTimeMillis(),
            math.max(storedMax(xt, "ts"),
              storedMax(XrefStore.mappingTable(xt), "ver")) + 1L)
        }
        val row = Xref.candidates(pair, attrs,
          judgement = lit(judgement), score = lit(1.0), ts = lit(ts),
          user = lit("cli"))
        require(row.count() == 1,
          s"judge: $leftId / $rightId not found in $table")
        XrefStore.applyBatch(spark, row, s"${table}_xref", ver = ts)
        val m = XrefStore.readMapping(spark, s"${table}_xref")
        println(s"judged $leftId/$rightId $judgement; " +
          s"mapping now ${m.count()} entities")

      case "resolve" :: table :: rest if rest.length <= 1 =>
        // canonical lookup from the STORED mapping (maintained by
        // `judge` / st15); falls back to a fresh recompute when no
        // mapping table exists yet
        val mt = XrefStore.mappingTable(s"${table}_xref")
        val mapping =
          if (spark.catalog.tableExists(mt))
            XrefStore.readMapping(spark, s"${table}_xref")
          else Xref.resolverMapping(
            XrefStore.readLatest(spark, s"${table}_xref"))
        val out = rest.headOption
          .map(id => mapping.filter(col("entity_id") === id))
          .getOrElse(mapping.orderBy("entity_id"))
        out.collect().foreach(r => println(r.mkString("\t")))

      case "migrate" :: table :: Nil =>
        // the automated face of SURVEY §7's documented compat repairs:
        // a pre-r11 VecStore (pre-4dp assignments, unstamped codebook/
        // codes) repairs in one staged-swap pass instead of by hand
        val actions = graft.sources.VecStore.migrate(spark, table)
        if (actions.isEmpty) println(s"$table: already current, no repairs")
        else actions.foreach(a => println(s"$table: $a"))

      case "treeify" :: table :: topCount :: Nil =>
        // r12: in-place flat→tree upgrade of a populated VecStore —
        // the operational face of `init treeTopCount` for stores that
        // already hold a corpus
        val actions =
          graft.sources.VecStore.treeify(spark, table, topCount.toInt)
        if (actions.isEmpty) println(s"$table: already a tree store")
        else actions.foreach(a => println(s"$table: $a"))

      case "untreeify" :: table :: Nil =>
        val actions = graft.sources.VecStore.untreeify(spark, table)
        if (actions.isEmpty) println(s"$table: already a flat store")
        else actions.foreach(a => println(s"$table: $a"))

      case "stats" :: table :: Nil =>
        Statements.stats(StatementStore.readFinal(spark, table))
          .orderBy("dataset", "schema")
          .collect()
          .foreach(r => println(r.mkString("\t")))

      // traverse <table> <seed entity_id> [hops] — everything within
      // `hops` of the seed over the stored graph's entity-type props
      // (f22's BFS against the live StatementStore), printed as
      // (entity_id, hops) ascending
      case "traverse" :: table :: seedId :: rest if rest.length <= 1 =>
        val hops = rest.headOption.map(_.toInt).getOrElse(2)
        val stmts = StatementStore.readFinal(spark, table)
        val edges = stmts
          .filter(org.apache.spark.sql.functions.col("prop_type") === "entity")
          .select(
            org.apache.spark.sql.functions.col("entity_id").as("src"),
            org.apache.spark.sql.functions.col("value").as("dst"))
        import spark.implicits._
        graft.operators.Traverse
          .khop(edges, Seq(seedId).toDF("id"), hops)
          .orderBy("hops", "id")
          .collect()
          .foreach(r => println(s"${r.get(0)}\t${r.get(1)}"))

      case "query" :: table :: opts =>
        val kv = opts.map(_.split("=", 2)).collect {
          case Array(k, v) => (k, v)
        }
        var q = EntityQuery(StatementStore.readFinal(spark, table))
        kv.foreach {
          case ("dataset", v) => q = q.dataset(v)
          case ("schema", v) => q = q.schema(v)
          case ("where", v) => v.split(":", 3) match {
            case Array(p, op, value) => q = q.where(p, op, value)
            case _ => sys.error(s"where= expects prop:op:value, got $v")
          }
          case ("limit", v) => q = q.slice(0, v.toInt)
          case (k, _) => sys.error(s"unknown option $k")
        }
        q.entities().collect().foreach(r => println(r.mkString("\t")))

      // zorder <in.parquet> <out.parquet> <col1,col2[,…]> [numFiles]:
      // rewrite a parquet table z-ordered on the named columns (the
      // engine.py ORDER-BY/skip-index analogue for multi-column range
      // predicates — sources/ZOrderLayout)
      case "zorder" :: inPath :: outPath :: cols :: rest
          if rest.length <= 1 =>
        val zCols = cols.split(",").toSeq.filter(_.nonEmpty)
        require(zCols.nonEmpty, "zorder needs at least one column")
        val files = rest.headOption.map(_.toInt).getOrElse(64)
        graft.sources.ZOrderLayout.write(
          spark.read.parquet(inPath), outPath, zCols, files)
        println(s"z-ordered $inPath -> $outPath on ${zCols.mkString(",")} " +
          s"($files files)")

      // graph <table> <verb> … — the GraphStore's operational face:
      // ingest edge batches, refresh the served analytics at the
      // operator's cadence, answer rank/community point questions
      // from the stored tables, take entities down. The staleness
      // verb makes the as-of contract inspectable from the shell.
      case "graph" :: table :: rest =>
        import graft.sources.GraphStore
        rest match {
          case "ingest" :: path :: ver :: Nil =>
            GraphStore.append(spark.read.parquet(path), table, ver.toLong)
            println(s"graph: appended batch $ver into $table")
          case "refresh" :: ms if ms.length <= 2 =>
            GraphStore.refresh(spark, table,
              minSupport = ms.headOption.map(_.toLong).getOrElse(2L),
              kcoreK = ms.lift(1).map(_.toLong).getOrElse(3L))
            println(s"graph: refreshed $table analytics")
          case "tick" :: ms if ms.length <= 2 =>
            // summary-only refresh: no edge rewrite (the r15
            // decoupling) — pair with an occasional `compact`
            GraphStore.refresh(spark, table,
              minSupport = ms.headOption.map(_.toLong).getOrElse(2L),
              kcoreK = ms.lift(1).map(_.toLong).getOrElse(3L),
              compactEdges = false)
            println(s"graph: ticked $table analytics (no compaction)")
          case "compact" :: Nil =>
            GraphStore.compact(spark, table)
            println(s"graph: compacted $table edges")
          case "rank" :: idArg if idArg.length <= 1 =>
            val r = GraphStore.ranks(spark, table)
            val sel = idArg.headOption
              .map(id => r.filter(col("id") === id)).getOrElse(
                r.orderBy(col("r").desc).limit(20))
            sel.collect().foreach(x => println(x.mkString("\t")))
          case "community" :: idArg if idArg.length <= 1 =>
            val c = GraphStore.communities(spark, table)
            val sel = idArg.headOption
              .map(id => c.filter(col("node") === id)).getOrElse(c)
            sel.orderBy("community", "node")
              .collect().foreach(x => println(x.mkString("\t")))
          case "cohesion" :: idArg if idArg.length <= 1 =>
            val c = GraphStore.cohesion(spark, table)
            val sel = idArg.headOption
              .map(id => c.filter(col("node") === id)).getOrElse(
                c.orderBy(col("n_triangles").desc).limit(20))
            sel.collect().foreach(x => println(x.mkString("\t")))
          case "kcore" :: idArg if idArg.length <= 1 =>
            val c = GraphStore.kcore(spark, table)
            val sel = idArg.headOption
              .map(id => c.filter(col("node") === id)).getOrElse(
                c.orderBy(col("core_degree").desc).limit(20))
            sel.collect().foreach(x => println(x.mkString("\t")))
          case "pop" :: id :: Nil =>
            import spark.implicits._
            GraphStore.pop(spark, table, Seq(id).toDF("id"))
            println(s"graph: popped $id")
          case "staleness" :: Nil =>
            val (asOf, cur) = GraphStore.staleness(spark, table)
            println(s"$asOf\t$cur\t${if (asOf == cur) "fresh" else "stale"}")
          case other =>
            sys.error("usage: graph <table> ingest <parquet> <ver> | " +
              s"refresh [minSupport] | tick [minSupport] | compact | " +
              s"rank [id] | community [id] | cohesion [id] | kcore [id] " +
              s"| pop <id> | staleness, got: $other")
        }

      // telemetry <base> <verb> … — the operational face of the three
      // summary stores (the st16b takedown story completed):
      // continuous term/length/audience telemetry served from stored
      // summaries, never a corpus rescan. Tables: <base>_topk
      // (Misra–Gries, capacity 64), <base>_quantiles (KLL, k = 200),
      // <base>_audience (bitmap). ClickHouse-parity anchor: the
      // topK/quantile/groupBitmap aggregates served from a
      // materialized summary table instead of re-scanned raw events.
      case "telemetry" :: base :: rest =>
        val topkTable = s"${base}_topk"
        val qTable = s"${base}_quantiles"
        val aTable = s"${base}_audience"
        val Capacity = 64 // MG counters per source (exact ≤ 64 regime)
        val KllK = 200    // KLL size (exact-below-k regime)
        // optimize hides every ver up to the fold horizon it stamps (a
        // replayed batch stays folded), so a batch at or below it would
        // land invisible: refuse it
        def pastHorizon(ver: String, tables: String*): Long = {
          val v = ver.toLong
          for (t <- tables; hi <- SummaryStore.horizon(spark, t)
               if v <= hi)
            sys.error(s"telemetry: <ver> $v is not past $t's fold " +
              s"horizon $hi (set by optimize); ingest under ver > $hi")
          v
        }
        rest match {
          case "ingest-docs" :: path :: batchId :: Nil =>
            val ver = pastHorizon(batchId, topkTable, qTable)
            val docs = spark.read.parquet(path)
            TopKStore.applyBatch(spark, docs, topkTable, Capacity, ver)
            QuantileStore.applyBatch(spark, docs, qTable, KllK, ver)
            println(s"telemetry: folded doc batch $batchId into " +
              s"$topkTable, $qTable")
          case "ingest-events" :: path :: batchId :: Nil =>
            BitmapStore.applyBatch(spark, spark.read.parquet(path), aTable,
              pastHorizon(batchId, aTable))
            println(s"telemetry: folded event batch $batchId into $aTable")
          case "topk" :: kArg if kArg.length <= 1 =>
            val k = kArg.headOption.map(_.toInt).getOrElse(10)
            TopKStore.readTopK(spark, topkTable, k, Capacity)
              .orderBy("source")
              .select(col("source"), to_json(col("top")).as("top"))
              .collect().foreach(r => println(r.mkString("\t")))
          case "quantiles" :: Nil =>
            QuantileStore.readQuantiles(spark, qTable, KllK)
              .orderBy("source")
              .collect().foreach(r => println(r.mkString("\t")))
          case "audience" :: Nil =>
            BitmapStore.readAudience(spark, aTable)
              .orderBy("event_type")
              .collect().foreach(r => println(r.mkString("\t")))
          case "pop-source" :: source :: Nil =>
            import spark.implicits._
            val one = Seq(source).toDF("source")
            if (spark.catalog.tableExists(topkTable))
              TopKStore.pop(spark, topkTable, one)
            if (spark.catalog.tableExists(qTable))
              QuantileStore.pop(spark, qTable, one)
            println(s"telemetry: popped source $source")
          case "pop-users" :: ids :: Nil =>
            import spark.implicits._
            BitmapStore.popUsers(spark, aTable,
              ids.split(",").map(_.trim.toLong).toSeq.toDF("user_id"))
            println(s"telemetry: popped users $ids")
          case "optimize" :: Nil =>
            if (spark.catalog.tableExists(topkTable))
              TopKStore.compact(spark, topkTable, Capacity)
            if (spark.catalog.tableExists(qTable))
              QuantileStore.compact(spark, qTable, KllK)
            if (spark.catalog.tableExists(aTable))
              BitmapStore.compact(spark, aTable)
            println(s"telemetry: optimized $base")
          case other =>
            sys.error("usage: telemetry <base> ingest-docs <parquet> <ver>" +
              " | ingest-events <parquet> <ver> | topk [k] | quantiles" +
              s" | audience | pop-source <s> | pop-users <id,…> | optimize" +
              s" (<ver> must pass every ver an optimize folded), got: $other")
        }

      case other =>
        sys.error(
          s"usage: init|ingest|optimize|pop|xref|judge|resolve|migrate|treeify|untreeify|stats|traverse|query|zorder|telemetry|graph, " +
            s"got: $other")
    }
}
