package graftbench

import java.nio.file.{Files, StandardCopyOption}
import java.time.LocalDateTime
import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Deterministic synthetic input tables in the layout graft's registry
  * reads: a TPC-H-like star schema plus `events`, `documents` and
  * `embeddings`, one parquet file per table under `<dir>/<name>.parquet`.
  *
  * Every value is a pure function of (table, row id, scale): each row
  * draws from its own `SplittableRandom` seeded by a mix of the table
  * salt and the row id, so the files are identical for every benchmark
  * seed and every partitioning of the generating job. The workload seed
  * never reaches this generator — the registry's expected row counts
  * and hashes are properties of these tables.
  *
  * Row counts follow TPC-H's per-sf sizes (customer 150k, supplier 10k,
  * part 200k, orders 1.5M, lineitem 6M per sf; events 1M per sf), with
  * floors for the text and vector tables so small scales still exercise
  * the tokenizer, dedup and vector kernels.
  */
object Corpus {

  final case class Sizes(sf: Double) {
    private def n(perSf: Double, floor: Long = 1L): Long =
      math.max(floor, math.round(perSf * sf))
    val customer: Long = n(150000)
    val supplier: Long = n(10000)
    val part: Long = n(200000)
    val orders: Long = n(1500000)
    val lineitem: Long = n(6000000)
    val events: Long = n(1000000)
    val users: Long = n(15000)
    val documents: Long = n(50000, 500)
    val embeddings: Long = n(20000, 500)
  }

  private val Regions = Array("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  private val Segments =
    Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val PartAdj =
    Array("blue", "cold", "hot", "large", "new", "old", "red", "small")
  private val PartNoun =
    Array("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
  private val PartTypes =
    Array("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
  private val Status = Array("F", "O", "P")
  private val ReturnFlags = Array("A", "N", "R")
  private val LineStatus = Array("F", "O")
  private val Priority =
    Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val EventTypes = Array("click", "error", "purchase", "signup", "view")
  private val Vocab = Array(
    "a", "agg", "batch", "big", "column", "customer", "data", "dup", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window")
  private val Langs = Array("en", "de", "fr", "es", "zh")
  private val LangCdf = Array(0.41, 0.5575, 0.705, 0.8525, 1.0)
  private val Sources = 20
  private val Dim = 64
  private val Labels = 10

  private val Epoch1995 = LocalDateTime.of(1995, 1, 1, 0, 0)
  private val Epoch2024 = LocalDateTime.of(2024, 1, 1, 0, 0)

  /** Per-row generator: SplitMix-style mix of table salt and row id. */
  private def rng(salt: Long, id: Long): SplittableRandom =
    new SplittableRandom(salt * 0x9E3779B97F4A7C15L ^ (id + 1) * 0xBF58476D1CE4E5B9L)

  private def cents(x: Double): Double = math.round(x * 100) / 100.0

  private def docWords(id: Long): Array[String] = {
    val r = rng(9, id)
    Array.fill(10 + r.nextInt(91))(Vocab(r.nextInt(Vocab.length)))
  }

  /** One document in twenty is a near duplicate: a 20-49 word passage of
    * an earlier document spliced into its own words, marked by a trailing
    * "dup" — the shared spans the passage, span and contamination
    * operators look for.
    */
  private def docText(id: Long): String = {
    val r = rng(13, id)
    val own = docWords(id)
    val words =
      if (id == 0 || r.nextInt(20) != 0) own
      else {
        val src = docWords(r.nextLong(id))
        val len = math.min(src.length, 20 + r.nextInt(30))
        val off = r.nextInt(src.length - len + 1)
        val cut = r.nextInt(own.length + 1)
        (own.take(cut) ++ src.slice(off, off + len) ++ own.drop(cut)) :+ "dup"
      }
    words.mkString(" ")
  }

  /** Unit vectors around one of ten Gaussian centroids. */
  private def centroid(label: Int): Array[Double] = {
    val r = rng(11, label.toLong)
    Array.fill(Dim)(r.nextDouble() * 2 - 1)
  }

  private def field(name: String, t: DataType): StructField =
    StructField(name, t, nullable = false)

  /** Write every table under `dir`. */
  def write(spark: SparkSession, dir: String, sf: Double): Unit = {
    val z = Sizes(sf)
    def table(name: String, n: Long, schema: StructType)(row: Long => Row): Unit = {
      val rows = spark.sparkContext
        .range(0L, n, 1L, numSlices = math.max(1, math.min(8, (n / 50000).toInt + 1)))
        .map(row)
      spark.createDataFrame(rows, schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/$name.parquet")
    }
    val ts = TimestampNTZType
    table("region", 5, StructType(Seq(field("r_regionkey", IntegerType),
      field("r_name", StringType))))(i => Row(i.toInt, Regions(i.toInt)))
    table("nation", 25, StructType(Seq(field("n_nationkey", IntegerType),
      field("n_name", StringType), field("n_regionkey", IntegerType))))(i =>
      Row(i.toInt, s"NATION_$i", (i % 5).toInt))
    table("customer", z.customer, StructType(Seq(field("c_custkey", LongType),
      field("c_name", StringType), field("c_nationkey", IntegerType),
      field("c_acctbal", DoubleType), field("c_mktsegment", StringType)))) { i =>
      val r = rng(1, i)
      Row(i, f"Customer#$i%09d", r.nextInt(25), cents(r.nextDouble() * 10999 - 999),
        Segments(r.nextInt(Segments.length)))
    }
    table("supplier", z.supplier, StructType(Seq(field("s_suppkey", LongType),
      field("s_name", StringType), field("s_nationkey", IntegerType),
      field("s_acctbal", DoubleType)))) { i =>
      val r = rng(2, i)
      Row(i, f"Supplier#$i%09d", r.nextInt(25), cents(r.nextDouble() * 10999 - 999))
    }
    table("part", z.part, StructType(Seq(field("p_partkey", LongType),
      field("p_name", StringType), field("p_brand", StringType),
      field("p_type", StringType), field("p_size", IntegerType),
      field("p_retailprice", DoubleType)))) { i =>
      val r = rng(3, i)
      Row(i, PartAdj(r.nextInt(8)) + " " + PartNoun(r.nextInt(8)),
        s"Brand#${1 + r.nextInt(25)}", PartTypes(r.nextInt(PartTypes.length)),
        1 + r.nextInt(50), 900.0 + (i % 1000) / 10.0)
    }
    table("orders", z.orders, StructType(Seq(field("o_orderkey", LongType),
      field("o_custkey", LongType), field("o_orderstatus", StringType),
      field("o_totalprice", DoubleType), field("o_orderdate", ts),
      field("o_orderpriority", StringType)))) { i =>
      val r = rng(4, i)
      Row(i, r.nextLong(z.customer), Status(r.nextInt(3)),
        cents(1000 + r.nextDouble() * 499000), Epoch1995.plusDays(r.nextInt(2404)),
        Priority(r.nextInt(Priority.length)))
    }
    table("lineitem", z.lineitem, StructType(Seq(field("l_orderkey", LongType),
      field("l_partkey", LongType), field("l_suppkey", LongType),
      field("l_linenumber", IntegerType), field("l_quantity", DoubleType),
      field("l_extendedprice", DoubleType), field("l_discount", DoubleType),
      field("l_tax", DoubleType), field("l_returnflag", StringType),
      field("l_linestatus", StringType), field("l_shipdate", ts)))) { i =>
      val r = rng(5, i)
      val partkey = r.nextLong(z.part)
      val qty = (1 + r.nextInt(50)).toDouble
      Row(r.nextLong(z.orders), partkey, r.nextLong(z.supplier), 1 + r.nextInt(7),
        qty, cents(qty * (900.0 + (partkey % 1000) / 10.0) * (0.5 + r.nextDouble())),
        r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
        ReturnFlags(r.nextInt(3)), LineStatus(r.nextInt(2)),
        Epoch1995.plusDays(1 + r.nextInt(2499)))
    }
    val eventStepMicros = 30L * 86400L * 1000000L / z.events
    table("events", z.events, StructType(Seq(field("event_id", LongType),
      field("ts", ts), field("user_id", LongType), field("event_type", StringType),
      field("value", DoubleType), field("props", StringType)))) { i =>
      val r = rng(6, i)
      Row(i, Epoch2024.plusNanos(1000L * (i * eventStepMicros + r.nextLong(eventStepMicros))),
        r.nextLong(z.users), EventTypes(r.nextInt(EventTypes.length)),
        cents(-50 * math.log(1 - r.nextDouble())), s"""{"k": ${r.nextInt(100)}}""")
    }
    table("documents", z.documents, StructType(Seq(field("doc_id", LongType),
      field("text", StringType), field("lang", StringType),
      field("source", StringType), field("n_chars", LongType)))) { i =>
      val r = rng(10, i)
      // ~0.16% exact duplicates of an earlier document
      val text = if (i > 0 && r.nextInt(625) == 0) docText(r.nextLong(i)) else docText(i)
      val u = r.nextDouble()
      Row(i, text, Langs(LangCdf.indexWhere(u < _)), s"src${i % Sources}",
        text.length.toLong)
    }
    val centroids = (0 until Labels).map(centroid)
    table("embeddings", z.embeddings, StructType(Seq(field("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = false), nullable = false),
      field("label", IntegerType)))) { i =>
      val r = rng(12, i)
      val label = r.nextInt(Labels)
      val c = centroids(label)
      val v = Array.tabulate(Dim)(d => c(d) + 0.35 * gaussian(r))
      val norm = math.sqrt(v.map(x => x * x).sum)
      Row(i, v.map(x => (x / norm).toFloat).toSeq, label)
    }
  }

  private def gaussian(r: SplittableRandom): Double = {
    val u1 = 1 - r.nextDouble()
    math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * r.nextDouble())
  }

  /** The corpus for the run's scale, generated on first use into
    * `<corpus root>/sf<X>` (through a temporary directory and a rename,
    * so a half-written corpus is never used) and reused by later runs:
    * it does not depend on the seed. Generation is the benchmark's own
    * work, so its time is kept out of `setup_s`. Set-up then loads every
    * table three times through `Tables.load` (schema inference included)
    * and keeps the times; the run reports their median as the set-up's
    * load step. Returns the corpus directory.
    */
  def prepare(ctx: Ctx): String = {
    val dir = ctx.args.corpus.resolve(s"sf${ctx.args.sf}")
    if (!Files.exists(dir.resolve(Complete))) ctx.tracer.span("corpus", "setup") {
      val t0 = System.nanoTime()
      val tmp = ctx.args.corpus.resolve(s"tmp-sf${ctx.args.sf}-${ProcessHandle.current.pid}")
      write(ctx.spark, tmp.toString, ctx.args.sf)
      Files.writeString(tmp.resolve(Complete), "")
      try Files.move(tmp, dir, StandardCopyOption.ATOMIC_MOVE)
      catch { case _: java.nio.file.FileAlreadyExistsException |
        _: java.nio.file.DirectoryNotEmptyException => () }
      ctx.corpusMs = (System.nanoTime() - t0) / 1e6
    }
    (0 until 3).foreach { _ =>
      val t0 = System.nanoTime()
      ctx.tracer.span("tables", "setup") {
        graft.Tables.all.foreach(t => graft.Tables.load(ctx.spark, dir.toString, t).schema)
      }
      ctx.loadMs += (System.nanoTime() - t0) / 1e6
    }
    dir.toString
  }

  private val Complete = "COMPLETE"
}
