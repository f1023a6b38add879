package graft

import java.nio.file.Files

import org.apache.spark.graftspec.Bus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Schema-drift regression guard for `Tables.load`.
  *
  * The testdata generator has written `events.ts` with two different
  * physical parquet encodings across generations:
  *   - TIMESTAMP(NANOS), which Spark reads as a nanosecond LONG under
  *     `spark.sql.legacy.parquet.nanosAsLong=true`;
  *   - timestamp[us] without timezone, which Spark reads as
  *     TIMESTAMP_NTZ.
  * Round 8 broke because the loader assumed the first encoding
  * unconditionally. These specs pin that BOTH encodings come out of
  * `Tables.load` as a plain TIMESTAMP with identical values, so a
  * future regeneration cannot silently zero the events queries again.
  */
class TablesSpec extends AnyFunSuite {
  import SparkTestSession._

  // one instant, expressed in each physical encoding
  private val epochMicros = 1704067200123456L // 2024-01-01 00:00:00.123456 UTC
  private val epochNanos  = epochMicros * 1000L

  private def writeAndLoad(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val dir = Files.createTempDirectory("graft_tables_spec").toFile
    df.write.mode("overwrite").parquet(s"$dir/events.parquet")
    Tables.load(spark, dir.toString, "events")
  }

  test("events.ts as timestamp[us] (TIMESTAMP_NTZ) loads to a usable TIMESTAMP") {
    // Spark writes TimestampNTZType as parquet timestamp(MICROS,
    // isAdjustedToUTC=false) — the current testdata encoding.
    val df = spark.createDataFrame(
      java.util.List.of(Row("e1", java.time.LocalDateTime.ofEpochSecond(
        epochMicros / 1000000L, (epochMicros % 1000000L).toInt * 1000,
        java.time.ZoneOffset.UTC))),
      StructType(Seq(
        StructField("id", StringType),
        StructField("ts", TimestampNTZType))))
    val loaded = writeAndLoad(df)
    assert(loaded.schema("ts").dataType == TimestampType)
    val got = loaded.select(unix_micros(col("ts"))).head().getLong(0)
    assert(got == epochMicros)
  }

  test("events.ts as nanosecond LONG (nanosAsLong read of TIMESTAMP(NANOS)) loads to the same TIMESTAMP") {
    // Spark cannot write TIMESTAMP(NANOS) parquet, so we pin the exact
    // frame the nanosAsLong reader hands the loader: ts as a
    // nanosecond-epoch LONG column.
    val df = spark.createDataFrame(
      java.util.List.of(Row("e1", epochNanos)),
      StructType(Seq(
        StructField("id", StringType),
        StructField("ts", LongType))))
    val loaded = writeAndLoad(df)
    assert(loaded.schema("ts").dataType == TimestampType)
    val got = loaded.select(unix_micros(col("ts"))).head().getLong(0)
    assert(got == epochMicros)
  }

  test("frames without a ts column pass through untouched") {
    val df = spark.range(3).toDF("id")
    assert(Tables.normalizeTs(df).schema == df.schema)
  }

  test("the live testdata events table loads with a TIMESTAMP ts") {
    val ev = Tables.load(spark, sf, "events")
    assert(ev.schema("ts").dataType == TimestampType)
    assert(ev.filter(col("ts").isNotNull).limit(1).count() == 1)
  }

  // The full-catalog guard: every table must load with the logical
  // schema the operators were written against — a testdata
  // regeneration that drifts any physical encoding (the round-8 events
  // incident, but for ANY table/column) fails here by name instead of
  // zeroing queries at runtime.
  private val expected: Map[String, Map[String, DataType]] = Map(
    "region" -> Map("r_regionkey" -> IntegerType, "r_name" -> StringType),
    "nation" -> Map("n_nationkey" -> IntegerType, "n_name" -> StringType,
      "n_regionkey" -> IntegerType),
    "customer" -> Map("c_custkey" -> LongType, "c_name" -> StringType,
      "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType,
      "c_mktsegment" -> StringType),
    "supplier" -> Map("s_suppkey" -> LongType, "s_name" -> StringType,
      "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType),
    "part" -> Map("p_partkey" -> LongType, "p_name" -> StringType,
      "p_brand" -> StringType, "p_type" -> StringType,
      "p_size" -> IntegerType, "p_retailprice" -> DoubleType),
    "orders" -> Map("o_orderkey" -> LongType, "o_custkey" -> LongType,
      "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
      "o_orderdate" -> TimestampType, "o_orderpriority" -> StringType),
    "lineitem" -> Map("l_orderkey" -> LongType, "l_partkey" -> LongType,
      "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
      "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
      "l_discount" -> DoubleType, "l_tax" -> DoubleType,
      "l_returnflag" -> StringType, "l_linestatus" -> StringType,
      "l_shipdate" -> TimestampType),
    "events" -> Map("event_id" -> LongType, "ts" -> TimestampType,
      "user_id" -> LongType, "event_type" -> StringType,
      "value" -> DoubleType, "props" -> StringType),
    "documents" -> Map("doc_id" -> LongType, "text" -> StringType,
      "lang" -> StringType, "source" -> StringType, "n_chars" -> LongType),
    "embeddings" -> Map("vec_id" -> LongType,
      "embedding" -> ArrayType(FloatType), "label" -> IntegerType))

  test("every testdata table loads with the expected logical schema") {
    Tables.all.foreach { t =>
      val got = Tables.load(spark, sf, t).schema
        .map(f => f.name -> f.dataType).toMap
      assert(got == expected(t), s"table $t drifted")
      // and in particular: no NTZ column ever escapes the loader
      assert(!got.values.exists(_ == TimestampNTZType), s"$t leaked NTZ")
    }
  }

  // ---- the driver-side footer schema ----

  // what `spark.read.parquet` infers, through the same normalizers
  private def inferred(path: String, name: String): StructType = {
    val df = spark.read.parquet(path)
    (if (name == "events") Tables.normalizeTs(df) else Tables.normalizeNtz(df))
      .schema
  }

  test("footer schemas equal Spark's inferred schemas on every testdata scale") {
    for (scale <- Seq("sf0.001", "sf0.01", "sf0.1"); t <- Tables.all) {
      val dir = s"/root/testdata/$scale"
      assert(Tables.load(spark, dir, t).schema ==
        inferred(s"$dir/$t.parquet", t), s"$scale/$t")
    }
  }

  test("footer schema of a Spark-written multi-file directory equals inference") {
    val dir = Files.createTempDirectory("graft_tables_multi").toFile
    val path = s"$dir/events.parquet"
    spark.range(40).select(col("id").as("event_id"),
        expr("cast(timestamp_micros(id * 1000000) as timestamp_ntz)").as("ts"),
        array(col("id").cast("float")).as("v"),
        struct(col("id").as("a"), lit("x").as("b")).as("props"))
      .repartition(4).write.parquet(path)
    val names = new java.io.File(path).list().toSeq
    assert(names.contains("_SUCCESS") && names.exists(_.endsWith(".crc")) &&
      names.count(_.endsWith(".parquet")) > 1, names)
    assert(Tables.load(spark, dir.toString, "events").schema ==
      inferred(path, "events"))
  }

  test("Tables.load starts no Spark job") {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    def jobsDuring(f: => Unit): Int = {
      Bus.drain(sc)
      jobs.set(0)
      f
      Bus.drain(sc)
      jobs.get
    }
    sc.addSparkListener(listener)
    try {
      assert(jobsDuring(Tables.all.foreach(Tables.load(spark, sf, _))) == 0)
      // the counter sees the inference job the loader avoids
      assert(jobsDuring(spark.read.parquet(s"$sf/region.parquet")) > 0)
    } finally sc.removeSparkListener(listener)
  }

  private def loadFailure(dir: String, name: String): String =
    intercept[Exception](Tables.load(spark, dir, name)).getMessage

  test("a missing table fails naming its path") {
    val dir = Files.createTempDirectory("graft_tables_missing").toString
    val msg = loadFailure(dir, "nosuch")
    assert(msg.contains(s"$dir/nosuch.parquet"), msg)
  }

  test("an empty table directory fails naming its path") {
    val dir = Files.createTempDirectory("graft_tables_empty").toFile
    val table = new java.io.File(dir, "hollow.parquet")
    assert(table.mkdir() && new java.io.File(table, "_SUCCESS").createNewFile())
    val msg = loadFailure(dir.toString, "hollow")
    assert(msg.contains(table.toString), msg)
  }
}
