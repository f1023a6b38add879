package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One timed operation. `span` is null in an untraced run. */
final case class OpRec(name: String, kind: String, pass: Int, ms: Double, span: Span)

final case class Args(
    workload: String, seed: Long, seconds: Int, trace: Boolean,
    sf: Double, work: Path, corpus: Path, records: Path, expected: Path, gitSha: String,
    record: Boolean)

object Args {
  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", m.getOrElse("sf", "0.01").toDouble,
      Paths.get(need("work")), Paths.get(need("corpus")), Paths.get(need("records")),
      Paths.get(need("expected")),
      m.getOrElse("git-sha", "unknown"), m.get("record-expected").contains("1"))
  }
}

/** State shared by a run: the session, the tracer, the timed operations
  * and the error account.
  */
final class Ctx(val args: Args, val spark: SparkSession, val tracer: Tracer,
    val sessionMs: Double) {
  val ops: mutable.ArrayBuffer[OpRec] = mutable.ArrayBuffer.empty
  val passWalls: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer.empty
  /** CPU seconds the hypervisor took from this VM during each pass. */
  val passSteal: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer.empty
  var attempted = 0L
  val failures: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty
  val cores: Int = Runtime.getRuntime.availableProcessors()
  /** Epoch ms of the first timed operation; set by the workload. */
  var firstTimedMs: Long = -1L
  /** Wall ms of corpus generation (0 when the corpus was already made). */
  var corpusMs = 0.0
  /** Table load times; set-up repeats the load and reports the median. */
  val loadMs: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer.empty

  def fail(op: String, why: String): Unit = {
    failures += s"$op: $why"
    System.err.println(s"perfbench FAILED $op: $why")
  }

  /** Time `body` as one operation, returning its value and wall ms. */
  def timed[T](name: String, kind: String, pass: Int)(body: => T): T = {
    if (firstTimedMs < 0) firstTimedMs = System.currentTimeMillis()
    val ((out, ms), span) = tracer.op(name) {
      val t0 = System.nanoTime()
      val r = body
      (r, (System.nanoTime() - t0) / 1e6)
    }
    ops += OpRec(name, kind, pass, ms, span)
    out
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  def dirFiles(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(f => Files.isRegularFile(f) && !f.getFileName.toString.startsWith(".") &&
        !f.getFileName.toString.startsWith("_")).count()
      finally s.close()
    }
}

object Main {

  def main(argv: Array[String]): Unit = {
    val args = Args.parse(argv)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    Files.createDirectories(args.work)
    Files.createDirectories(args.records)
    val cores = Runtime.getRuntime.availableProcessors()
    val stealAtStart = Host.stealS()
    val sessionStartMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val spark = graft.GraftSession.local(cores)
    val sessionMs = (System.nanoTime() - t0) / 1e6
    val tracer = new Tracer(args.trace, spark)
    val ctx = new Ctx(args, spark, tracer, sessionMs)
    val header = Header(ctx)
    println("perfbench header " + Json.obj(header))
    val workload: Workload = args.workload match {
      case "registry_short" | "registry_long" => new Registry(ctx)
      case "store_rw" => new StoreRw(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    if (args.record) {
      workload.asInstanceOf[Registry].recordExpected()
      spark.stop()
      return
    }
    workload.run()
    tracer.stop()
    // live heap after full collections, once all timed work is done; the
    // second collection frees what the first one's reference processing
    // released (Spark's cleaner drops its weakly reachable state)
    System.gc()
    Thread.sleep(200)
    System.gc()
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    // JVM start to the first timed operation, less corpus generation,
    // with the table loads counted once at their median
    val setupS = ((ctx.firstTimedMs - jvmStartMs) - ctx.corpusMs -
      ctx.loadMs.sum + Stats.median(ctx.loadMs.toSeq)) / 1000.0
    // the same interval in its parts; the warm-up is what remains
    val setup = mutable.LinkedHashMap[String, Any](
      "jvm_ms" -> (sessionStartMs - jvmStartMs).toDouble,
      "session_ms" -> ctx.sessionMs,
      "corpus_ms" -> ctx.corpusMs,
      "load_ms" -> ctx.loadMs.toSeq,
      "warmup_ms" -> ((ctx.firstTimedMs - sessionStartMs) - ctx.sessionMs -
        ctx.corpusMs - ctx.loadMs.sum))
    val e2e = workload.endToEnd() ++ Seq(
      "setup_s" -> (setupS, "s"),
      "heap_live_mb" -> (heapMb, "MB"))
    val layers = if (args.trace) Layers.metrics(ctx, workload) else Nil
    val failed = ctx.failures.size.toLong
    val errorRate = failed.toDouble / math.max(1L, ctx.attempted)
    val record = mutable.LinkedHashMap[String, Any](
      "header" -> header,
      "setup" -> setup,
      "end_to_end" -> Json.metricMap(e2e),
      "per_layer" -> Json.metricMap(layers),
      "error_rate" -> errorRate,
      "attempted" -> ctx.attempted,
      "failures" -> ctx.failures.toSeq,
      "passes" -> ctx.passWalls.toSeq,
      "pass_steal_s" -> ctx.passSteal.toSeq,
      "run_steal_s" -> (Host.stealS() - stealAtStart),
      "leaks" -> Leaks(ctx),
      "ops" -> ctx.ops.map { o =>
        val base = Map[String, Any]("name" -> o.name, "kind" -> o.kind, "pass" -> o.pass, "ms" -> o.ms)
        if (o.span == null) base else base ++ o.span.attrs
      }.toSeq)
    val stem = s"${args.workload}-seed${args.seed}-trace${if (args.trace) 1 else 0}"
    Files.writeString(args.records.resolve(stem + ".json"), Json.obj(record) + "\n")
    if (args.trace)
      Files.writeString(args.records.resolve(stem + "-spans.json"), Json.spans(tracer.spans.toSeq))
    spark.stop()
    val shown = if (args.trace) layers else e2e
    val last = mutable.LinkedHashMap[String, Any](
      "correct" -> (failed == 0),
      "attempted" -> ctx.attempted,
      "failed" -> failed,
      "metrics" -> Json.metricMap(shown))
    println(Json.obj(last))
  }
}

/** The host as the benchmark sees it. */
object Host {
  /** CPU time stolen from this VM by its hypervisor, in seconds summed
    * over all CPUs, from the `steal` column of /proc/stat; NaN where
    * there is none. Other tenants' load shows here, not in the
    * benchmark's own CPU time, and explains runs that are slow
    * throughout.
    */
  def stealS(): Double =
    try {
      val f = java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/stat")).get(0)
        .trim.split("\\s+")
      if (f(0) == "cpu" && f.length > 8) f(8).toDouble / 100.0 else Double.NaN
    } catch { case _: Exception => Double.NaN }
}

/** Operations that leave RDDs persisted, with the RDDs and storage MB
  * they added over the run (traced runs; reported, not gated).
  */
object Leaks {
  def apply(ctx: Ctx): mutable.LinkedHashMap[String, Any] =
    ctx.ops.filter(_.span != null).groupBy(_.name).toSeq.sortBy(_._1).flatMap { case (n, os) =>
      val rdds = os.map(_.span.attrs.getOrElse("rdds_pinned_delta", 0.0)).sum
      val mb = os.map(_.span.attrs.getOrElse("storage_mb_delta", 0.0)).sum
      if (rdds > 0) Some(n -> Map("rdds" -> rdds, "storage_mb" -> mb)) else None
    }.to(mutable.LinkedHashMap)
}

/** A workload runs its set-up and timed loop, then names its metrics. */
trait Workload {
  def run(): Unit
  def endToEnd(): Seq[(String, (Double, String))]
  /** Latencies of the workload's query operations, in ms. */
  def queryMs: Seq[Double]
  /** Store-layer metrics; zero for workloads that never write. */
  def storeMetrics(): Seq[(String, (Double, String))]
}

/** The run header: what ran, where and on what. */
object Header {
  def apply(ctx: Ctx): mutable.LinkedHashMap[String, Any] = {
    val conf = ctx.spark.conf
    mutable.LinkedHashMap[String, Any](
      "workload" -> ctx.args.workload,
      "seed" -> ctx.args.seed,
      "sf" -> ctx.args.sf,
      "sf_dir" -> ctx.args.corpus.resolve(s"sf${ctx.args.sf}").toString,
      "nproc" -> ctx.cores,
      "default_parallelism" -> ctx.spark.sparkContext.defaultParallelism,
      "shuffle_partitions" -> conf.get("spark.sql.shuffle.partitions"),
      "aqe" -> conf.get("spark.sql.adaptive.enabled"),
      "codegen_cache" -> conf.get("spark.sql.codegen.cache.maxEntries"),
      "spark" -> ctx.spark.version,
      "scala" -> scala.util.Properties.versionNumberString,
      "jdk" -> System.getProperty("java.version"),
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "git_sha" -> ctx.args.gitSha,
      "traced" -> ctx.args.trace,
      "run_seconds" -> ctx.args.seconds)
  }
}

/** Minimal JSON writer for the result line and the records. */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    (sb += '"').result()
  }

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] => obj(m.map { case (k, x) => k.toString -> x })
    case s: Iterable[_] => s.map(value).mkString("[", ",", "]")
    case o => str(o.toString)
  }

  def obj(m: scala.collection.Map[String, Any]): String =
    m.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")

  def metricMap(ms: Seq[(String, (Double, String))]): mutable.LinkedHashMap[String, Any] =
    ms.map { case (k, (v, u)) =>
      k -> mutable.LinkedHashMap[String, Any]("value" -> v, "unit" -> u) }
      .to(mutable.LinkedHashMap)

  def spans(ss: Seq[Span]): String = {
    val self = Tracer.selfNs(ss)
    ss.map { s =>
      obj(mutable.LinkedHashMap[String, Any]("id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "layer" -> s.layer, "start_ns" -> s.start, "end_ns" -> s.end,
        "self_ns" -> self(s.id), "attrs" -> s.attrs))
    }.mkString("[\n", ",\n", "\n]\n")
  }
}
