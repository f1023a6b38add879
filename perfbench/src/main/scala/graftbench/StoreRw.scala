package graftbench

import java.nio.file.{Files, Path}
import java.sql.Timestamp

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.model.Statements
import graft.model.Statements.PropSpec
import graft.operators.{EntityQuery, Fpx}
import graft.sources.{FpxStore, StatementStore}

/** The store life cycle on a fresh warehouse, repeated until the run's
  * seconds are spent. One cycle:
  *
  *   1. bulk append of the corpus's customer, supplier, part and order
  *      entities as statements (`Statements.unpivot`), plus their
  *      phonetic fingerprints (`Fpx.fromStatements`) into the fpx store;
  *   2. two rounds of: one upsert delta (re-observed statements with a
  *      newer `last_seen`, plus one new value per touched entity), six
  *      point lookups of Zipf-skewed entities (`readFinal`, then
  *      `assemble`) and two scans — between them the cycle runs each of
  *      `EntityQuery` where+order+slice, `EntityQuery` search+slice,
  *      `stats` and `FpxStore.blocks` once, in a seeded order;
  *   3. one `pop`;
  *   4. `StatementStore.compact` and `FpxStore.compact`.
  *
  * Delta entities and values, lookup ids, the pop target and the scan
  * predicates come from the seed. Outputs are checked against the
  * generator's own account: each lookup returns the entity's expected
  * statement count, the FINAL live count equals the generated distinct
  * keys minus the popped ones, the popped entity is gone, and compaction
  * preserves the FINAL content hash.
  */
final class StoreRw(ctx: Ctx) extends Workload {
  private val spark = ctx.spark
  private val tracer = ctx.tracer
  import spark.implicits._

  private val Rounds = 2
  private val LookupsPerRound = 6
  private val DeltaEntities = 100
  private val Scans = Seq("scan_where", "scan_search", "scan_stats", "scan_blocks")
  /** Buckets of both stores. The program's default is 64; at 64 a run
    * of this workload takes ~85 s instead of ~55 s (every operation here
    * is per-file and per-task overhead, so the time does not shrink with
    * the corpus), which puts the benchmark's full set of runs over its
    * time budget. The 64-bucket runs are recorded in READING.md.
    */
  private val Buckets = 8

  private var dir: String = _
  private val warehouse: Path = ctx.args.work.resolve("warehouse")
  private val sizes = Corpus.Sizes(ctx.args.sf)
  private val rnd = new scala.util.Random(ctx.args.seed)

  /** (prefix, schema, dataset, entity count, statements per entity) */
  private val kinds = Seq(
    ("customer", "Customer", "customers", sizes.customer, 4),
    ("supplier", "Supplier", "suppliers", sizes.supplier, 3),
    ("part", "Part", "parts", sizes.part, 5),
    ("order", "Order", "orders", sizes.orders, 4))
  private val entityCount: Long = kinds.map(_._4).sum
  private val baseStatements: Long = kinds.map(k => k._4 * k._5).sum

  private def entity(i: Long): (String, String, String, Int) = {
    var j = i
    kinds.foreach { case (p, s, d, n, per) =>
      if (j < n) return (s"$p-$j", s, d, per)
      j -= n
    }
    throw new IllegalArgumentException(s"entity index $i")
  }

  private def t(name: String): DataFrame = graft.Tables.load(spark, dir, name)
  private val BaseSeen = Timestamp.valueOf("2024-06-01 00:00:00")

  private def source: DataFrame = {
    def un(df: DataFrame, p: String, schema: String, ds: String, key: String,
        props: Seq[PropSpec]): DataFrame =
      Statements.unpivot(df, concat(lit(p + "-"), col(key)), schema, ds, props,
        firstSeen = lit(BaseSeen), lastSeen = lit(BaseSeen))
    un(t("customer"), "customer", "Customer", "customers", "c_custkey", Seq(
      PropSpec("name", "name", $"c_name"),
      PropSpec("mktsegment", "string", $"c_mktsegment"),
      PropSpec("nationkey", "number", $"c_nationkey"),
      PropSpec("acctbal", "number", $"c_acctbal")))
      .unionAll(un(t("supplier"), "supplier", "Supplier", "suppliers", "s_suppkey", Seq(
        PropSpec("name", "name", $"s_name"),
        PropSpec("nationkey", "number", $"s_nationkey"),
        PropSpec("acctbal", "number", $"s_acctbal"))))
      .unionAll(un(t("part"), "part", "Part", "parts", "p_partkey", Seq(
        PropSpec("name", "name", $"p_name"),
        PropSpec("brand", "string", $"p_brand"),
        PropSpec("type", "string", $"p_type"),
        PropSpec("size", "number", $"p_size"),
        PropSpec("retailprice", "number", $"p_retailprice"))))
      .unionAll(un(t("orders"), "order", "Order", "orders", "o_orderkey", Seq(
        PropSpec("status", "string", $"o_orderstatus"),
        PropSpec("totalprice", "number", $"o_totalprice"),
        PropSpec("customer", "entity", concat(lit("customer-"), $"o_custkey")),
        PropSpec("priority", "string", $"o_orderpriority"))))
  }

  /** Zipf(1.1) over entity ranks; rank → entity through a seeded
    * permutation, so which entities are hot depends on the seed.
    */
  private lazy val zipfCdf: Array[Double] = {
    val w = Array.tabulate(entityCount.toInt)(r => 1.0 / math.pow(r + 1, 1.1))
    val c = w.scanLeft(0.0)(_ + _).tail
    c.map(_ / c.last)
  }
  private lazy val perm: Array[Int] = rnd.shuffle((0 until entityCount.toInt).toVector).toArray
  private def zipfEntity(): Long = {
    val i = java.util.Arrays.binarySearch(zipfCdf, rnd.nextDouble())
    perm(math.min(if (i >= 0) i else -i - 1, zipfCdf.length - 1)).toLong
  }

  // per-layer store accounting (traced runs)
  private var stmtAppendMs, fpxAppendMs, popMs, compactStmtMs, compactFpxMs = 0.0
  private var bytesWritten, filesWritten, lookupRows = 0.0
  private val versionsRatios = mutable.ArrayBuffer.empty[Double]
  private val diskBytes = mutable.ArrayBuffer.empty[Double]
  private val storeFiles = mutable.ArrayBuffer.empty[Double]
  private var ingestStmts = 0L
  private var cycles = 0

  private def files(): Set[Path] =
    if (!Files.exists(warehouse)) Set.empty
    else {
      val s = Files.walk(warehouse)
      try s.iterator().asScala.filter(f => Files.isRegularFile(f) &&
        !f.getFileName.toString.startsWith(".") && !f.getFileName.toString.startsWith("_")).toSet
      finally s.close()
    }

  /** A timed store write; traced runs also count the files and bytes it
    * left in the warehouse. A call that throws counts as a failed
    * operation and takes no time. Returns the call's wall ms.
    */
  private def write(name: String, pass: Int, call: String)(body: => Unit): Double = {
    val before = if (tracer.on) files() else Set.empty[Path]
    ctx.attempted += 1
    val ms =
      try {
        ctx.timed(name, "write", pass) { tracer.span(call, "store")(body) }
        ctx.ops.last.ms
      } catch { case e: Exception => ctx.fail(name, e.toString); 0.0 }
    if (tracer.on) {
      val added = files() -- before
      filesWritten += added.size
      bytesWritten += added.toSeq.map(Files.size(_).toDouble).sum
    }
    ms
  }

  /** A timed store read, then `check` on its result outside the timed
    * interval. A read that throws counts as a failed operation.
    */
  private def read[T](name: String, pass: Int, call: String)(body: => T)(check: T => Unit): Unit = {
    ctx.attempted += 1
    try check(ctx.timed(name, "read", pass) { tracer.span(call, "store")(body) })
    catch { case e: Exception => ctx.fail(name, e.toString) }
  }

  /** An untimed invariant of the generator's account; a check that
    * throws fails like one that finds a mismatch.
    */
  private def invariant(name: String)(body: => Unit): Unit = {
    ctx.attempted += 1
    try body
    catch { case e: Exception => ctx.fail(name, e.toString) }
  }

  /** FINAL row count and an order-insensitive content hash: the sum of
    * every row's xxhash64, computed in Spark (exact decimal sum).
    */
  private def finalHash(table: String): (Long, String) = {
    val df = StatementStore.readFinal(spark, table)
    val cols = df.columns.sorted.map(col)
    val r = df.agg(count(lit(1)), sum(xxhash64(cols: _*).cast("decimal(38,0)"))).head()
    (r.getLong(0), String.valueOf(r.get(1)))
  }

  /** Expected scan results, counted once from the corpus: customers per
    * market segment, parts per name word.
    */
  private lazy val segmentCustomers: Map[String, Long] =
    t("customer").groupBy("c_mktsegment").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
  private lazy val partNames: Seq[String] =
    t("part").select(lower($"p_name")).collect().map(_.getString(0)).toSeq

  /** One life cycle on fresh tables. The warm-up cycle runs a single
    * round with one lookup: it reaches every code path the timed cycles
    * take, at half their cost.
    */
  private def cycle(pass: Int, timedRun: Boolean): Unit = {
    val rounds = if (timedRun) Rounds else 1
    val lookups = if (timedRun) LookupsPerRound else 1
    val steal0 = Host.stealS()
    val st = s"stmts_c$pass"
    val fx = s"fpx_c$pass"
    // per-entity expected statement counts for touched entities
    val extra = mutable.HashMap.empty[String, Int].withDefaultValue(0)
    var popped = Set.empty[String]
    var live = baseStatements
    val stmts = source
    stmtAppendMs += write("append_stmts", pass, "StatementStore.append") {
      StatementStore.append(stmts, st, Buckets)
    }
    fpxAppendMs += write("append_fpx", pass, "FpxStore.append") {
      FpxStore.append(Fpx.fromStatements(stmts), fx, Buckets)
    }
    ingestStmts += baseStatements
    val scans = rnd.shuffle(Scans)
    (1 to rounds).foreach { r =>
      val seen = Timestamp.valueOf(f"2024-07-$r%02d 00:00:00")
      val touched = Seq.fill(DeltaEntities)(entity(rnd.nextLong(entityCount))).distinct
      val reobserved = stmts.filter(col("entity_id").isin(touched.map(_._1): _*))
        .withColumn("last_seen", lit(seen))
      val fresh = touched.groupBy(e => (e._2, e._3)).map { case ((schema, ds), es) =>
        Statements.unpivot(es.map(e => (e._1, s"r$r-${rnd.nextInt(1000000)}")).toDF("eid", "note"),
          col("eid"), schema, ds, Seq(PropSpec("notes", "string", col("note"))),
          firstSeen = lit(seen), lastSeen = lit(seen))
      }.reduce(_ unionAll _)
      touched.foreach(e => extra(e._1) += 1)
      live += touched.size
      ingestStmts += touched.map(_._4).sum + touched.size
      stmtAppendMs += write("delta", pass, "StatementStore.append") {
        StatementStore.append(reobserved.unionAll(fresh), st, Buckets)
      }
      (1 to lookups).foreach { _ =>
        val (id, _, _, per) = entity(zipfEntity())
        read("lookup", pass, "StatementStore.readFinal+Statements.assemble") {
          Statements.assemble(StatementStore.readFinal(spark, st)
            .filter(col("canonical_id") === id)).collect()
        } { got =>
          if (tracer.on) lookupRows += got.map(_.getAs[Long]("n_statements")).sum
          val want = per + extra(id)
          if (got.length != 1 || got.head.getAs[Long]("n_statements") != want)
            ctx.fail(s"lookup $id", s"got ${got.map(_.getAs[Long]("n_statements")).toSeq}, want $want")
        }
      }
      scans.drop((r - 1) * Scans.size / rounds).take(Scans.size / rounds)
        .foreach(scan(_, st, fx, pass, live))
    }
    // pop: one seeded customer with all its statements
    val (victim, _, _, vper) = entity(rnd.nextLong(sizes.customer))
    val out = write("pop", pass, "StatementStore.pop") {
      val n = StatementStore.pop(spark, st, victim, Buckets).count()
      if (n != vper + extra(victim)) ctx.fail(s"pop $victim", s"returned $n, want ${vper + extra(victim)}")
    }
    popMs += out
    live -= vper + extra(victim)
    popped += victim
    // untimed invariants before compaction; the warm-up cycle skips them,
    // as it only has to reach the timed code paths
    var hashBefore = ""
    if (timedRun) invariant("final count") {
      val (finalRows, h) = finalHash(st)
      hashBefore = h
      if (finalRows != live) ctx.fail("final count", s"FINAL $finalRows != generated $live")
      if (tracer.on)
        versionsRatios += StatementStore.read(spark, st).count().toDouble / finalRows
    }
    if (timedRun) invariant("pop") {
      val gone = StatementStore.readFinal(spark, st).filter(col("entity_id").isin(popped.toSeq: _*)).count()
      if (gone != 0) ctx.fail("pop", s"$gone statements of popped entity remain")
    }
    compactStmtMs += write("compact_stmts", pass, "StatementStore.compact") {
      StatementStore.compact(spark, st, Buckets)
    }
    compactFpxMs += write("compact_fpx", pass, "FpxStore.compact") {
      FpxStore.compact(spark, fx, Buckets)
    }
    if (timedRun) invariant("compact") {
      val (_, hashAfter) = finalHash(st)
      if (hashAfter != hashBefore) ctx.fail("compact", s"FINAL hash $hashAfter != $hashBefore before")
    }
    if (timedRun) {
      val mine = cycleDirs(pass)
      diskBytes += mine.map(p => ctx.dirBytes(p).toDouble).sum
      storeFiles += mine.map(p => ctx.dirFiles(p).toDouble).sum
      ctx.passWalls += ctx.ops.filter(_.pass == pass).map(_.ms).sum / 1000.0
      ctx.passSteal += Host.stealS() - steal0
    }
  }

  private def scan(kind: String, st: String, fx: String, pass: Int, live: Long): Unit = kind match {
    case "scan_where" =>
      val seg = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")(rnd.nextInt(5))
      val want = math.min(50L, segmentCustomers.getOrElse(seg, 0L))
      read(kind, pass, "EntityQuery.where") {
        EntityQuery(StatementStore.readFinal(spark, st)).schema("Customer")
          .where("mktsegment", "eq", seg).orderByProp("acctbal").slice(0, 50).entities().collect()
      } { got => if (got.length != want) ctx.fail(kind, s"$seg: ${got.length} entities, want $want") }
    case "scan_search" =>
      val needle = Seq("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")(rnd.nextInt(8))
      val want = math.min(50L, partNames.count(_.contains(needle)).toLong)
      read(kind, pass, "EntityQuery.search") {
        EntityQuery(StatementStore.readFinal(spark, st)).schema("Part").search(needle)
          .slice(0, 50).entities().collect()
      } { got => if (got.length != want) ctx.fail(kind, s"$needle: ${got.length} entities, want $want") }
    case "scan_stats" =>
      read(kind, pass, "Statements.stats") {
        Statements.stats(StatementStore.readFinal(spark, st)).collect()
      } { got =>
        val n = got.map(_.getAs[Long]("statements")).sum
        val e = got.map(_.getAs[Long]("entities")).sum
        if (n != live || e != entityCount)
          ctx.fail(kind, s"$n statements / $e entities, want $live / $entityCount")
      }
    case "scan_blocks" =>
      read(kind, pass, "FpxStore.blocks") { FpxStore.blocks(spark, fx).count() } { got =>
        if (got <= 0) ctx.fail(kind, "no blocking pairs")
      }
  }

  /** Drop a cycle's tables (live and compaction stages) and delete
    * whatever directories they leave behind.
    */
  private def dropCycle(pass: Int): Unit = {
    spark.sessionState.catalog.listTables("default").map(_.table).filter(ofCycle(pass, _))
      .sortBy(_.length).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    cycleDirs(pass).foreach(deleteTree)
  }

  /** Tables of one cycle: the two stores and their compaction stages. */
  private def ofCycle(pass: Int, name: String): Boolean =
    Seq(s"stmts_c$pass", s"fpx_c$pass").exists(x => name == x || name.startsWith(x + "_"))

  private def cycleDirs(pass: Int): Seq[Path] = {
    val s = Files.list(warehouse)
    try s.iterator().asScala.filter(p => ofCycle(pass, p.getFileName.toString)).toSeq
    finally s.close()
  }

  private def deleteTree(p: Path): Unit = {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
    finally s.close()
  }

  def run(): Unit = {
    dir = Corpus.prepare(ctx)
    // warm-up cycle: same code paths, untimed, then dropped
    val opsBefore = ctx.ops.size
    cycle(0, timedRun = false)
    ctx.ops.remove(opsBefore, ctx.ops.size - opsBefore)
    ctx.firstTimedMs = -1L
    dropCycle(0)
    resetAccounting()
    val deadline = System.nanoTime() + ctx.args.seconds * 1000000000L
    var pass = 0
    while (pass == 0 || System.nanoTime() < deadline) {
      if (pass > 0) dropCycle(pass)
      pass += 1
      cycle(pass, timedRun = true)
    }
    cycles = pass
  }

  private def resetAccounting(): Unit = {
    stmtAppendMs = 0; fpxAppendMs = 0; popMs = 0; compactStmtMs = 0; compactFpxMs = 0
    bytesWritten = 0; filesWritten = 0; lookupRows = 0
    versionsRatios.clear()
    ingestStmts = 0
  }

  private def opMs(pred: OpRec => Boolean): Seq[Double] = ctx.ops.filter(pred).map(_.ms).toSeq

  /** The store's point query is the entity lookup; its latency
    * percentiles come from the lookups alone. Mixed with the scans, which
    * take three to five times longer, the median would fall in the gap
    * between the two groups and swing with its edges.
    */
  def queryMs: Seq[Double] = opMs(_.name == "lookup")

  def endToEnd(): Seq[(String, (Double, String))] = {
    val perKind = ctx.ops.filter(_.kind == "read").groupBy(_.name).values
      .map(os => Stats.median(os.map(_.ms).toSeq)).toSeq
    Seq(
      "pass_s" -> (Stats.median(ctx.passWalls.toSeq), "s"),
      "query_p50_ms" -> (Stats.median(queryMs), "ms"),
      "query_geomean_ms" -> (Stats.geomean(perKind), "ms"),
      "disk_mb" -> (diskBytes.last / 1048576.0, "MB"))
  }

  def storeMetrics(): Seq[(String, (Double, String))] = {
    val n = cycles.toDouble
    val lookupJobs = ctx.ops.filter(o => o.name == "lookup" && o.span != null).map(_.span.id).toSet
    val scanned = ctx.tracer.spans.filter(s => s.name == "job" && s.parent >= 0 &&
      lookupJobs(ctx.tracer.spans(s.parent).parent)).map(_.attrs.getOrElse("input_rows", 0.0)).sum
    val compact = opMs(o => o.name.startsWith("compact_"))
    val appendS = (stmtAppendMs + fpxAppendMs) / 1000.0
    Seq(
      "stmt_append_ms" -> (stmtAppendMs / n, "ms"),
      "fpx_append_ms" -> (fpxAppendMs / n, "ms"),
      "ingest_stmts_per_s" -> (ingestStmts / appendS, "1/s"),
      "bytes_written_mb" -> (bytesWritten / n / 1048576.0, "MB"),
      "files_written" -> (filesWritten / n, "count"),
      "write_amp" -> (bytesWritten / n / diskBytes.last, "ratio"),
      "lookup_p50_ms" -> (Stats.median(opMs(_.name == "lookup")), "ms"),
      "lookup_p90_ms" -> (Stats.quantile(opMs(_.name == "lookup"), 0.9), "ms"),
      "rows_scanned_per_row" -> (scanned / math.max(1.0, lookupRows), "ratio"),
      "scan_p50_ms" -> (Stats.median(opMs(_.name.startsWith("scan_"))), "ms"),
      "versions_ratio" -> (Stats.median(versionsRatios.toSeq), "ratio"),
      "store_files" -> (storeFiles.last, "count"),
      "pop_ms" -> (popMs / n, "ms"),
      "compact_stmt_ms" -> (compactStmtMs / n, "ms"),
      "compact_fpx_ms" -> (compactFpxMs / n, "ms"),
      "compact_s" -> (compact.sum / n / 1000.0, "s"))
  }
}
