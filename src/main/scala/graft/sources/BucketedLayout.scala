package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** The one bucketed writer of the stores. Each bucketed table kind
  * declares its physical layout once — bucket, sort, partition and
  * split-block bloom-filter columns — and every write of such a table
  * (append, first create, compact stage) goes through its layout. This
  * is the `partitionBy`/`bucketBy`/`sortBy` mapping of the reference's
  * MergeTree layout (engine.py:130-247), fixed in one place.
  *
  * One file per bucket per write (the r12 file-count finding): Spark's
  * `bucketBy` writer emits one file per (task × partition × bucket),
  * so writing from an N-split source multiplies the store's file
  * count by N. The repo's probe stores only ever looked right because
  * their sources were single parquet files (one task); the moment the
  * sf1/sf10 embeddings were sharded for scan parallelism, a
  * 1,600-file store became a 330,000-file store and every pruned read
  * drowned in file opens (VecServeProbe inverted from 2.9× store-
  * advantage to 5× store-DISADVANTAGE on identical data). So every
  * write first repartitions on (partition columns, bucket id), where
  * the bucket id `pmod(hash(bucketCols), n)` is bitwise Spark's own
  * bucket-id expression (`HashPartitioning.partitionIdExpression` —
  * Murmur3, seed 42, same modulo): every row of one output file
  * co-locates in exactly one task, and each write emits exactly ONE
  * file per non-empty (partition, bucket) regardless of the incoming
  * split count. Cost: one Exchange of the rows being written
  * (batch-sized on appends, corpus-sized on compacts — the same order
  * as the write itself).
  *
  * The creation count wins (the r13 st16b finding): a table's bucket
  * count and its [[ZOrderLayout]] declaration are fixed when it is
  * created, like a MergeTree's ORDER BY key. A write at any other
  * count emits file bucket ids the table's bucket spec disowns, and
  * bucketed reads then prune those files SILENTLY — a point lookup
  * returns partial results, not an error. So a store's shape is named
  * once, by the call that creates its main table ([[write]]'s
  * `buckets` and `zorder`, which the creating write records), and an
  * existing table's catalog bucket count and z declaration govern
  * every later write. A side table created after its store exists
  * (a vector store's `_codes`, a doc store's `_anchors`, an xref
  * `_mapping`, the graph summaries) takes the main table's catalog
  * bucket count but never its z declaration ([[writeBeside]],
  * [[replace]]). A compact stage is written at the LIVE table's count
  * and z layout ([[stage]], [[rewrite]]), so the swapped-in files
  * always match the catalog entry that serves them. An existing table
  * without a bucket spec fails the write: no graft write creates one,
  * and a count guessed for it would be the silent-pruning bug above.
  *
  * The compression codec is part of the layout too: every bucketed
  * table is written with zstd ([[codec]]), not Spark's default snappy.
  * The stores are dominated by id columns, and an id such as the
  * statement table's 40-hex-char `id` carries 4 bits of information in
  * each 8-bit character: snappy does no entropy coding and shrinks
  * such a column by about 8%, zstd's entropy stage by about half. Like
  * the bucket count, the codec of appends is fixed at creation: Spark
  * records the creating write's options in the table's catalog entry
  * and every later append to it writes under those, so a caller's
  * `writerOptions` take effect on a creating write and on a compact
  * stage (a new table). A reader takes each file's codec from that
  * file's own footer: a table created at another codec (snappy before
  * the codec joined the layout) keeps serving its files next to the
  * zstd files its compacts write.
  */
final case class BucketedLayout(
    bucketCols: Seq[String],
    sortCols: Seq[String],
    partCols: Seq[String] = Nil,
    bloomCols: Seq[String] = Nil) {

  /** Append `df` to `table`, creating it when absent at `buckets`
    * and `zorder`. An existing table's catalog bucket count and z
    * declaration apply instead.
    */
  def write(df: DataFrame, table: String, buckets: Int,
      zorder: Option[(Seq[String], Int)] = None,
      writerOptions: Map[String, String] = Map.empty): Unit =
    writeAt(df, table, (buckets, zorder), writerOptions)

  /** Append `df` to the existing `table` under its catalog's bucket
    * count and z declaration; an absent table fails the write.
    */
  def append(df: DataFrame, table: String): Unit =
    writeAt(df, table, throw new IllegalArgumentException(
      s"BucketedLayout: `$table` does not exist; create it through " +
        "its store"), Map.empty)

  /** Append `df` to `table`, a side table of the store whose main
    * table is `main`: created when absent at `main`'s catalog bucket
    * count, never at its z declaration.
    */
  def writeBeside(df: DataFrame, table: String, main: String): Unit =
    writeAt(df, table,
      (BucketedLayout.bucketCount(df.sparkSession, main), None), Map.empty)

  /** Write `df` to the compact stage `tmp` of the live `table`,
    * creating it at the live table's bucket count and z layout.
    */
  def stage(df: DataFrame, tmp: String, table: String,
      writerOptions: Map[String, String] = Map.empty): Unit =
    writeAt(df, tmp, BucketedLayout.shapeOf(df.sparkSession, table),
      writerOptions)

  /** Stage-and-swap `table`'s replacement rows through
    * [[TableSwap.rewrite]]: the rewrite keeps the creation count.
    */
  def rewrite(spark: SparkSession, table: String,
      writerOptions: Map[String, String] = Map.empty)(
      rows: => DataFrame): Unit =
    TableSwap.rewrite(spark, table)(stage(rows, _, table, writerOptions))

  /** Replace the rows of `table`, a side table of `main`: create it
    * when absent ([[writeBeside]]), else [[rewrite]] it.
    */
  def replace(df: DataFrame, table: String, main: String): Unit =
    if (!df.sparkSession.catalog.tableExists(table))
      writeBeside(df, table, main)
    else rewrite(df.sparkSession, table)(df)

  /** Write `df` to `target` under its catalog's bucket count and z
    * declaration, or under `shape` when this write creates it.
    */
  private def writeAt(
      df: DataFrame, target: String,
      shape: => (Int, Option[(Seq[String], Int)]),
      writerOptions: Map[String, String]): Unit = {
    val spark = df.sparkSession
    val creates = !spark.catalog.tableExists(target)
    val (n, z) =
      if (creates) shape else BucketedLayout.shapeOf(spark, target)
    // z-ordered tables sort each bucket file by a stored `__z` Morton
    // key instead of the sort columns. The z bounds are WRITE-LOCAL
    // (one min/max pass over the rows being written): `__z` is only a
    // sort key within the files of one write, never compared across
    // files or read by queries, so a compact's corpus-wide bounds give
    // the optimal placement and an append's give its own. Input `__z`
    // (rows re-read from a z table's files) is recomputed, never
    // trusted. The catalog schema and sort spec carry `__z` from
    // creation, so the swap keeps the catalog TRUE of the files: a
    // catalog claiming key order over z-sorted files would let the
    // planner skip a sort it must not.
    val (rows, sortBy) = z match {
      case None => (df, sortCols)
      case Some((zc, bits)) =>
        val in = df.drop("__z")
        val (mins, maxs) = ZOrderLayout.bounds(in, zc)
        (in.withColumn("__z",
          ZOrderLayout.zValue(zc.map(col), mins, maxs, bits)), Seq("__z"))
    }
    // split-block bloom filters on the id columns (the ClickHouse
    // `bloom_filter` skip-index class; [[BloomSkip]] measures them):
    // min/max stats cannot prune a POINT lookup on an id the file is
    // not sorted by — a z table's files never are — and adaptive
    // sizing keeps the footer cost proportional to each row group's
    // distinct count
    val bloom =
      if (bloomCols.isEmpty) Map.empty[String, String]
      else bloomCols.map(c => s"parquet.bloom.filter.enabled#$c" -> "true")
        .toMap + ("parquet.bloom.filter.adaptive.enabled" -> "true")
    rows.repartition((partCols.map(col) :+
        pmod(hash(bucketCols.map(col): _*), lit(n))): _*)
      .write
      .mode(SaveMode.Append)
      .partitionBy(partCols: _*)
      .bucketBy(n, bucketCols.head, bucketCols.tail: _*)
      .sortBy(sortBy.head, sortBy.tail: _*)
      .options(BucketedLayout.codec ++ bloom ++ writerOptions)
      .format("parquet")
      .saveAsTable(target)
    if (creates) z.foreach { case (zc, bits) =>
      ZOrderLayout.declare(spark, target, zc, bits)
    }
  }
}

object BucketedLayout {

  /** The codec of every bucketed store file; a caller's
    * `writerOptions` may still override it.
    */
  private val codec = Map("compression" -> "zstd")

  /** `table`'s catalog bucket count; a table without one fails. */
  private def bucketCount(spark: SparkSession, table: String): Int =
    TableSwap.bucketsOf(spark, table).getOrElse(
      throw new IllegalArgumentException(s"BucketedLayout: `$table` has " +
        "no bucket spec, so no write can know its bucket count; " +
        "recreate it through its store"))

  /** `table`'s catalog bucket count and z declaration. */
  private def shapeOf(spark: SparkSession, table: String)
      : (Int, Option[(Seq[String], Int)]) =
    (bucketCount(spark, table), ZOrderLayout.layoutOf(spark, table))
}
