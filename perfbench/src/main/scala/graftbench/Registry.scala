package graftbench

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}

/** The registry workloads: graft's named queries
  * (`SparkEntry.queries`) over the generated corpus, one closed-loop
  * client. Each pass runs every query of the workload once, in an order
  * drawn from the seed; passes repeat until the run's seconds are spent,
  * and at least [[Registry.MinPasses]] times. Every query is three timed
  * phases — `build` (the registry call), `plan` (`executedPlan`) and
  * `exec` (`toRdd` drained) — and its row count is checked on every
  * pass. Set-up includes one untimed pass that also checks each
  * result's content hash.
  */
final class Registry(ctx: Ctx) extends Workload {
  import Registry._

  private val spark = ctx.spark
  private val tracer = ctx.tracer
  private val all: Map[String, (SparkSession, String) => DataFrame] = graft.SparkEntry.queries
  private val byShort: Map[String, String] = all.keys.map(k => k.takeWhile(_ != '_') -> k).toMap
  private var dir: String = _
  private lazy val expected: Map[String, (Long, String)] = {
    val f = ctx.args.expected.resolve(expectedFile(ctx.args.sf))
    Files.readAllLines(f).asScala.filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
      val Array(n, rows, hash) = l.split("\t")
      n -> (rows.toLong, hash)
    }.toMap
  }
  private val queries: Seq[String] = workloads(ctx.args.workload).map(s =>
    byShort.getOrElse(s, throw new IllegalStateException(s"no registry query $s")))

  private val plans = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]

  private def check(name: String, rows: Long, hash: Option[String]): Unit =
    expected.get(name) match {
      case None => ctx.fail(name, "no expected value checked in")
      case Some((r, h)) =>
        if (rows != r) ctx.fail(name, s"rows $rows != expected $r")
        else hash.foreach { got =>
          if (!RowsOnly(name.takeWhile(_ != '_')) && got != h)
            ctx.fail(name, s"content hash $got != expected $h")
        }
    }

  /** Untimed pass: every query collected, row count and content hash
    * checked. Doubles as the warm-up.
    */
  private def hashPass(order: Seq[String]): Unit = order.foreach { n =>
    ctx.attempted += 1
    try {
      val (rows, hash) = tracer.span(n, "setup") {
        val df = all(n)(spark, dir)
        val rs = df.collect()
        (rs.length.toLong, Stats.contentHash(df.columns.toSeq, rs))
      }
      check(n, rows, Some(hash))
    } catch { case e: Throwable => ctx.fail(n, e.toString) }
  }

  /** One query through the timed code path: build, plan, execute. */
  private def query(n: String): (Long, SparkPlan) = {
    val df = tracer.span("build", "build") { all(n)(spark, dir) }
    val qe = df.queryExecution
    val p = tracer.span("plan", "plan") { qe.executedPlan }
    (tracer.span("exec", "exec") { qe.toRdd.count() }, p)
  }

  private def timedQuery(n: String, pass: Int): Unit = {
    ctx.attempted += 1
    try {
      val (rows, plan) = ctx.timed(n, "query", pass)(query(n))
      if (tracer.on) plans += planShape(plan)
      check(n, rows, None)
    } catch { case e: Throwable => ctx.fail(n, e.toString) }
  }

  def run(): Unit = {
    dir = Corpus.prepare(ctx)
    val rnd = new scala.util.Random(ctx.args.seed)
    hashPass(rnd.shuffle(queries))
    val disk = new DiskWrites
    spark.sparkContext.addSparkListener(disk)
    val deadline = System.nanoTime() + ctx.args.seconds * 1000000000L
    var pass = 0
    while (pass < MinPasses || System.nanoTime() < deadline) {
      pass += 1
      val t0 = System.nanoTime()
      val steal0 = Host.stealS()
      rnd.shuffle(queries).foreach(timedQuery(_, pass))
      ctx.passWalls += (System.nanoTime() - t0) / 1e9
      ctx.passSteal += Host.stealS() - steal0
    }
    org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(disk)
    diskMbPerPass = disk.bytes / 1048576.0 / pass
  }

  /** MB the timed passes wrote to local disk (shuffle files and spills),
    * per pass: the registry reads a fixed corpus and keeps no store, so
    * its scratch writes are the program's disk cost.
    */
  private var diskMbPerPass = 0.0

  /** Shuffle and broadcast exchanges of one query's executed plan (the
    * final plan, after adaptive re-planning).
    */
  private def planShape(p: SparkPlan): (Int, Int) = {
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case o => o +: (o.children ++ o.subqueries).flatMap(walk)
    }
    val nodes = walk(p)
    (nodes.count(_.isInstanceOf[ShuffleExchangeLike]),
      nodes.count(_.isInstanceOf[BroadcastExchangeLike]))
  }

  def planTotals: (Double, Double) =
    (plans.map(_._1).sum.toDouble, plans.map(_._2).sum.toDouble)

  def queryMs: Seq[Double] = ctx.ops.map(_.ms).toSeq

  def endToEnd(): Seq[(String, (Double, String))] = {
    val ms = queryMs
    val perQuery = ctx.ops.groupBy(_.name).values.map(os => Stats.median(os.map(_.ms).toSeq)).toSeq
    Seq(
      "pass_s" -> (Stats.median(ctx.passWalls.toSeq), "s"),
      "query_p50_ms" -> (Stats.median(ms), "ms"),
      "query_geomean_ms" -> (Stats.geomean(perQuery), "ms"),
      "disk_mb" -> (diskMbPerPass, "MB"))
  }

  def storeMetrics(): Seq[(String, (Double, String))] = Nil

  /** Write the expected row count and content hash of every registry
    * query on this corpus — run once at a commit whose oracle passes.
    */
  def recordExpected(): Unit = {
    dir = Corpus.prepare(ctx)
    val lines = all.keys.toSeq.sorted.map { n =>
      val df = all(n)(spark, dir)
      val rows = df.collect()
      s"$n\t${rows.length}\t${Stats.contentHash(df.columns.toSeq, rows)}"
    }
    val f = ctx.args.expected.resolve(expectedFile(ctx.args.sf))
    Files.createDirectories(f.getParent)
    Files.writeString(f, (s"# name\trows\tcontent_hash (sf ${ctx.args.sf})" +: lines)
      .mkString("", "\n", "\n"))
    println(s"wrote ${lines.size} expected results to $f")
  }
}

object Registry {
  def expectedFile(sf: Double): String = s"registry-sf$sf.tsv"

  /** Timed passes per run, at least. After the one untimed pass the
    * first timed pass still runs ~30% slow while the JIT compiles; with
    * three, the median pass and each query's median skip it, and a
    * burst of host load that slows one pass is skipped the same way.
    * A fixed count keeps the run's figures from depending on how many
    * passes fit in its seconds.
    */
  val MinPasses = 3

  /** Queries whose content is not deterministic: row count only. */
  val RowsOnly: Set[String] =
    Set("d15b", "f10", "f17", "p5", "q16b", "s3b", "t15", "t16", "t3b")

  /** Frozen query lists, by the registry key's leading token. */
  val workloads: Map[String, Seq[String]] = Map(
    // overhead-bound: well under a second each, one or two jobs apiece;
    // s7 trains its tree quantizer in a driver loop (15 jobs inside
    // `build`) and p7 leaves an RDD persisted on every call
    "registry_short" -> Seq(
      "q1", "q2", "q5", "q12", "t1", "f1", "f5", "f21", "d1", "s7", "p7"),
    // driver loops and kernels: k-core peeling, connected components,
    // product-quantised ANN
    "registry_long" -> Seq("f29", "d6", "s5"))
}
