package graft

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions.{expr, timestamp_micros}
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType}

/** Parquet-backed table access for the graft engine.
  *
  * The reference stores everything in ClickHouse MergeTree tables
  * (/root/reference/ftm_columnstore/engine.py:130). On Spark the
  * equivalent storage primitive is partitioned parquet read through the
  * DataSource V2 scan: Catalyst pushes predicates and prunes columns, so
  * the ClickHouse skip-indexes/projections have no direct analogue —
  * they fall out of partitioning + min/max stats.
  *
  * Every table is read with an explicit schema taken from the footer
  * of its first data file on the driver ([[footerSchema]]), so building
  * a query runs no Spark job: `spark.read.parquet` without a schema
  * infers it with a one-task job per table, a fixed cost that dominated
  * small queries. The schema is read, not declared, because the
  * physical encodings differ between testdata generations (`events.ts`
  * is TIMESTAMP(NANOS) in the sf1/sf10 generators and timestamp[us]
  * elsewhere) and a declared type mismatching the file fails the scan;
  * the footer yields whichever encoding the file carries, converted
  * exactly as Spark's own inference converts it.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Load one testdata table. `dir` is an sf directory like
    * /root/testdata/sf0.01.
    *
    * `events.ts` has been written with two physical parquet encodings
    * across testdata generations, so we branch on the schema its
    * footer carries rather than assuming one:
    *   - TIMESTAMP(NANOS): Spark reads it as a nanosecond LONG under
    *     `spark.sql.legacy.parquet.nanosAsLong=true` (set by
    *     GraftSession/Verify/Bench) — normalize to a microsecond
    *     TIMESTAMP.
    *   - timestamp[us] (no tz): Spark reads TIMESTAMP_NTZ — cast to the
    *     session timestamp type so downstream ops and the DuckDB oracle
    *     see one consistent type. The cast is pushdown-transparent:
    *     under the pinned UTC session Catalyst rewrites `cast(ts) >= X`
    *     onto the raw scan column (verified: ts predicates appear in
    *     the FileScan's DataFilters), so time-range pruning at 100 TB
    *     is not lost to the normalization.
    */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val df = spark.read.schema(footerSchema(spark, path)).parquet(path)
    if (name == "events") normalizeTs(df) else normalizeNtz(df)
  }

  /** The schema Spark's inference would give the parquet table at
    * `path` (a file or a directory), read on the driver without a job.
    * Inference without `mergeSchema` reads one data file's footer and
    * so does this: the first by name, skipping `_`/`.` entries
    * (`_SUCCESS`, `.crc`) as Spark's file listing does. The footer is
    * converted by Spark's own code under the session conf, so
    * `nanosAsLong`, INT96 and NTZ inference behave as in
    * `spark.read.parquet`. Fails naming `path` when it does not exist
    * or holds no data file.
    */
  private def footerSchema(spark: SparkSession, path: String): StructType = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    // a missing path throws FileNotFoundException naming it
    val status = fs.getFileStatus(root)
    val file =
      if (status.isFile) status
      else fs.listStatus(root)
        .filter { c =>
          val n = c.getPath.getName
          c.isFile && !n.startsWith("_") && !n.startsWith(".")
        }
        .minByOption(_.getPath.getName)
        .getOrElse(throw new IllegalArgumentException(
          s"table path holds no data file: $path"))
    val footer = ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(file, conf),
      ParquetMetadataConverter.SKIP_ROW_GROUPS)
    ParquetFileFormat.readSchemaFromFooter(new Footer(file.getPath, footer),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
  }

  /** Normalize an `events`-shaped frame's `ts` column to TIMESTAMP,
    * whatever physical encoding the parquet carried (see [[load]]):
    * a nanosecond LONG `ts` gets the micros conversion; anything else
    * falls through to [[normalizeNtz]] (which also covers `ts` being
    * NTZ, and is a no-op only when NO column in the frame is NTZ).
    */
  def normalizeTs(df: DataFrame): DataFrame =
    df.schema.find(_.name == "ts").map(_.dataType) match {
      case Some(LongType) =>
        // nanosecond epoch long -> microsecond timestamp
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ => normalizeNtz(df)
    }

  /** Cast every TIMESTAMP_NTZ column to the session timestamp type —
    * the testdata writes its time columns (`events.ts`,
    * `orders.o_orderdate`, `lineitem.l_shipdate`) as timestamp[us]
    * without timezone, which Spark reads as NTZ. Left as NTZ they are
    * the events-bug hazard in waiting: any comparison against a plain
    * TIMESTAMP (`current_timestamp()`, a literal, another table's
    * column) throws DATATYPE_MISMATCH. Under the engine's pinned UTC
    * session the cast is value-identical and pushdown-transparent (see
    * [[load]]), so one consistent type costs nothing.
    */
  def normalizeNtz(df: DataFrame): DataFrame =
    df.schema.collect {
      case f if f.dataType == TimestampNTZType => f.name
    }.foldLeft(df)((d, c) =>
      d.withColumn(c, expr(s"cast(`$c` as timestamp)")))
}
