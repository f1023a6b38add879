package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** Z-ORDER (Morton-curve) data layout: multi-dimensional clustering so
  * parquet min/max statistics prune on EVERY laid-out column, not just
  * a leading sort key.
  *
  * This is the missing half of the engine's skip-index story. The
  * reference leans on ClickHouse's ORDER BY primary index + skip
  * indexes (engine.py:130 — MergeTree orders by the table's key
  * columns); SURVEY §3 maps those to "partitioning + min/max stats".
  * A LINEAR sort delivers min/max pruning only for its leading column:
  * sort events by user_id and every file still spans the full time
  * range, so a ts-range scan reads everything. Interleaving the bits
  * of both columns' rank buckets (the Morton curve) makes every
  * z-contiguous file cover a small HYPER-RECTANGLE of the key space —
  * any single- or multi-column range predicate then skips most row
  * groups from footer stats alone, before a single data page is read.
  * At 100 TB this is the difference between "scan 100 TB, filter to
  * 10 GB" and "read the ~10 GB of row groups whose boxes intersect".
  *
  * Everything is declarative Spark: the bucket scaling and bit
  * interleave are composed `functions._` expressions (codegen'd, no
  * UDF), the placement is one `repartitionByRange` on the z-value
  * (Spark range-samples the z distribution, so files get balanced
  * z-spans) plus an in-partition sort, and the z column is DROPPED
  * before the write — the layout is carried by row order, not schema.
  *
  * Determinism/exactness: the z-value orders the LAYOUT only — it
  * never appears in query results, so the bucket scaling may use
  * double arithmetic safely (same expression ⇒ same placement; query
  * answers are unaffected by row order). Bounds default to one
  * min/max aggregate over the input (a metadata-cheap pass); callers
  * with known domains (epoch ranges, id ranges) pass them explicitly
  * and skip the pass.
  */
object ZOrderLayout {

  /** Morton z-value of `cols`, each scaled into `bits`-wide rank
    * buckets over [min, max]. Pure composed expressions: per column,
    * bucket = clamp(floor((v − min) · 2^bits / (range + 1))); then bit
    * b of column i lands at interleaved position b·n + i. 2 cols ×
    * 16 bits = one 32-bit z in a single codegen'd projection.
    */
  def zValue(
      cols: Seq[Column],
      mins: Seq[Long],
      maxs: Seq[Long],
      bits: Int = 16): Column = {
    require(cols.nonEmpty && cols.size == mins.size && cols.size == maxs.size)
    require(bits * cols.size <= 62, "z-value must fit a signed long")
    val n = cols.size
    val top = (1L << bits) - 1
    val buckets = cols.zip(mins.zip(maxs)).map { case (c, (lo, hi)) =>
      val range = math.max(hi - lo, 0L) + 1L
      // double scaling is safe for LAYOUT (see class doc); clamp both
      // ends so out-of-bounds rows (late data past the sampled max)
      // still land on the curve's edge instead of corrupting the z
      greatest(lit(0L), least(lit(top),
        floor((c.cast("long") - lit(lo)).cast("double") *
          (1L << bits).toDouble / range.toDouble).cast("long")))
    }
    val terms = for {
      (b, i) <- buckets.zipWithIndex
      bit <- 0 until bits
    } yield shiftleft(shiftright(b, bit).bitwiseAND(lit(1L)),
      bit * n + i)
    terms.reduce(_.bitwiseOR(_))
  }

  /** One min/max pass over the z columns (callers with known domains
    * skip this).
    */
  def bounds(df: DataFrame, zCols: Seq[String]): (Seq[Long], Seq[Long]) = {
    val row = df.agg(
      zCols.flatMap(c => Seq(min(col(c)).cast("long"),
        max(col(c)).cast("long"))).head,
      zCols.flatMap(c => Seq(min(col(c)).cast("long"),
        max(col(c)).cast("long"))).tail: _*).collect()(0)
    val mins = zCols.indices.map(i =>
      if (row.isNullAt(2 * i)) 0L else row.getLong(2 * i))
    val maxs = zCols.indices.map(i =>
      if (row.isNullAt(2 * i + 1)) 0L else row.getLong(2 * i + 1))
    (mins, maxs)
  }

  /** Write `df` to `path` z-ordered on `zCols` across `numFiles`
    * range-partitioned files (each file = one contiguous z-span = one
    * small hyper-rectangle of the key space).
    */
  def write(
      df: DataFrame,
      path: String,
      zCols: Seq[String],
      numFiles: Int,
      bits: Int = 16,
      knownBounds: Option[(Seq[Long], Seq[Long])] = None): Unit = {
    val (mins, maxs) = knownBounds.getOrElse(bounds(df, zCols))
    df.withColumn("__z", zValue(zCols.map(col), mins, maxs, bits))
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode("overwrite").parquet(path)
  }

  /** The creation-time z-order declaration of a managed store, read
    * back from table properties (None = the store's canonical key
    * sort). [[BucketedLayout]] reads it on every write of an existing
    * table, so appends and compacts can never diverge from it.
    */
  def layoutOf(spark: org.apache.spark.sql.SparkSession, table: String)
      : Option[(Seq[String], Int)] = {
    val props = TableSwap.properties(spark, table)
    props.get("graft.zorder.cols").map { cols =>
      (cols.split(",").toSeq, props.getOrElse("graft.zorder.bits", "16").toInt)
    }
  }

  /** Record a creation-time z-order declaration on `table` — the
    * MergeTree ORDER BY analogue (engine.py:130): fixed at creation
    * by [[BucketedLayout]]'s creating write, honored by every later
    * write.
    */
  def declare(spark: org.apache.spark.sql.SparkSession, table: String,
      zc: Seq[String], bits: Int): Unit =
    TableSwap.setProperties(spark, table,
      "graft.zorder.cols" -> zc.mkString(","),
      "graft.zorder.bits" -> bits.toString)

  /** Per-row-group INT64 min/max stats for `cols`, straight from the
    * parquet footers — the exact metadata a scan's row-group pruning
    * reads, exposed so layout quality is MEASURABLE (the specs
    * count "row groups whose box intersects the predicate"
    * instead of trusting wall-clock noise).
    */
  def rowGroupStats(
      dir: String, cols: Seq[String]): Seq[Map[String, (Long, Long)]] = {
    val conf = new Configuration()
    // Hadoop FileSystem listing, not java.io.File: write() accepts any
    // Hadoop path (hdfs://, s3a://, file:), so the footer reader must
    // resolve the same way or silently return (0, 0) on non-local URIs
    val dirPath = new Path(dir)
    val fs = dirPath.getFileSystem(conf)
    val files = fs.listStatus(dirPath)
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .sortBy(_.getPath.getName)
    files.toSeq.flatMap { f =>
      val in = HadoopInputFile.fromPath(f.getPath, conf)
      val reader = ParquetFileReader.open(in)
      try {
        reader.getFooter.getBlocks.asScala.toSeq.map { block =>
          block.getColumns.asScala
            .filter(c => cols.contains(c.getPath.toDotString))
            .flatMap { c =>
              // a stats-less or all-null row-group chunk has no
              // min/max — OMIT the column (matchingRowGroups treats a
              // missing entry as "cannot prune", the conservative
              // read a real scan would make) instead of NPEing on it
              val st = c.getStatistics
              def toLong(v: Any): Option[Long] = v match {
                case null => None
                case l: java.lang.Long => Some(l.longValue())
                case i: java.lang.Integer => Some(i.longValue())
                case other => Some(other.toString.toLong)
              }
              if (st == null || st.isEmpty) None
              else for {
                lo <- toLong(st.genericGetMin)
                hi <- toLong(st.genericGetMax)
              } yield c.getPath.toDotString -> ((lo, hi))
            }.toMap
        }
      } finally reader.close()
    }
  }

  /** How many row groups a conjunctive box predicate must READ under
    * this layout: groups whose [min, max] intersects every queried
    * column's range. The numerator of the pruning ratio.
    */
  def matchingRowGroups(
      dir: String, box: Map[String, (Long, Long)]): (Int, Int) = {
    val stats = rowGroupStats(dir, box.keys.toSeq)
    val hit = stats.count { rg =>
      box.forall { case (c, (qlo, qhi)) =>
        rg.get(c).forall { case (lo, hi) => hi >= qlo && lo <= qhi }
      }
    }
    (hit, stats.size)
  }

  /** PAGE-grain selectivity of a conjunctive box — the grain Spark's
    * vectorized reader actually filters at (parquet COLUMN INDEXES:
    * per-page min/max + per-page first-row offsets). Returns
    * (rowsSelected, rowsTotal): for each row group, each queried
    * column's qualifying pages convert to ROW RANGES via the offset
    * index, the ranges INTERSECT across columns (page boundaries
    * differ per column — row ranges are the common currency, exactly
    * parquet-mr's ColumnIndexFilter), and the surviving row count
    * accumulates. Row-group pruning answers "how many groups open";
    * this answers "how many ROWS decode" — the finer, truer cost.
    * INT64/INT32 columns only (the layout columns); columns without a
    * column index select everything (conservative, like the reader).
    */
  def matchingRows(
      dir: String, box: Map[String, (Long, Long)]): (Long, Long) = {
    val conf = new Configuration()
    val dirPath = new Path(dir)
    val fs = dirPath.getFileSystem(conf)
    val files = fs.listStatus(dirPath)
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .sortBy(_.getPath.getName)
    var selected = 0L; var total = 0L
    def long(bb: java.nio.ByteBuffer): Long = {
      val b = bb.duplicate().order(java.nio.ByteOrder.LITTLE_ENDIAN)
      if (b.remaining() >= 8) b.getLong
      else if (b.remaining() >= 4) b.getInt.toLong
      else Long.MinValue
    }
    // intersect two sorted, disjoint range lists
    def intersect(a: Seq[(Long, Long)], b: Seq[(Long, Long)])
        : Seq[(Long, Long)] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      var i = 0; var j = 0
      while (i < a.length && j < b.length) {
        val lo = math.max(a(i)._1, b(j)._1)
        val hi = math.min(a(i)._2, b(j)._2)
        if (lo <= hi) out += ((lo, hi))
        if (a(i)._2 < b(j)._2) i += 1 else j += 1
      }
      out.toSeq
    }
    files.foreach { f =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
        f.getPath, conf))
      try {
        reader.getFooter.getBlocks.asScala.foreach { block =>
          val rows = block.getRowCount
          total += rows
          val perCol = box.toSeq.map { case (c, (qlo, qhi)) =>
            block.getColumns.asScala
              .find(_.getPath.toDotString == c)
              .flatMap { chunk =>
                val ci = reader.readColumnIndex(chunk)
                val oi = reader.readOffsetIndex(chunk)
                if (ci == null || oi == null) None
                else {
                  val n = oi.getPageCount
                  val mins = ci.getMinValues
                  val maxs = ci.getMaxValues
                  val nullPages = ci.getNullPages
                  Some((0 until n).flatMap { p =>
                    val first = oi.getFirstRowIndex(p)
                    val last =
                      if (p + 1 < n) oi.getFirstRowIndex(p + 1) - 1
                      else rows - 1
                    val allNull = nullPages.get(p)
                    val ok = !allNull && {
                      val lo = long(mins.get(p)); val hi = long(maxs.get(p))
                      hi >= qlo && lo <= qhi
                    }
                    if (ok) Some((first, last)) else None
                  })
                }
              }
              // no column index → cannot prune: the whole group
              .getOrElse(Seq((0L, rows - 1)))
          }
          val surviving = perCol.reduce(intersect)
          selected += surviving.map { case (lo, hi) => hi - lo + 1 }.sum
        }
      } finally reader.close()
    }
    (selected, total)
  }
}
