package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** The forget protocol every deleting store shares — the only code that
  * names a store's tombstone table (`<table>_dels`, or `<table>_dsdels`
  * for the xref store's dataset-grain pops).
  *
  *   - a pop APPENDS the request ids ([[append]]): request-bounded,
  *     nothing corpus-sized is rewritten;
  *   - every read face excludes them immediately ([[minus]], a
  *     broadcast anti-join — the set is bounded by requests, not data;
  *     a store that never popped keeps its exact pre-delete plan);
  *   - a compact takes a [[snapshot]] of the tombstone files BEFORE it
  *     reads, so the rewritten rows honor at least those pops, drops
  *     the popped rows physically, then [[retire]]s the tombstones only
  *     if none landed since the snapshot — a pop that lands mid-compact
  *     keeps masking reads until the next compact.
  *
  * Takedown is therefore sticky until compaction: an id re-appended
  * (a replayed or late batch) before the compact stays hidden and is
  * dropped by it.
  */
final case class Tombstones(name: String) {

  /** Pops are waiting for a compact — a catalog check, no Spark job. */
  def pending(spark: SparkSession): Boolean = spark.catalog.tableExists(name)

  /** Pop `ids` (one column, deduplicated on write). */
  def append(spark: SparkSession, ids: DataFrame): Unit =
    ids.distinct().write.mode(SaveMode.Append).format("parquet")
      .saveAsTable(name)

  /** The tombstone rows, or None when nothing is pending. The listing
    * is refreshed first: pops may come from another session (a
    * stream's cloned one).
    */
  def rows(spark: SparkSession): Option[DataFrame] =
    if (!pending(spark)) None
    else {
      spark.catalog.refreshTable(name)
      Some(spark.table(name))
    }

  /** The distinct popped values of column `c`. */
  def ids(spark: SparkSession, c: String): Option[DataFrame] =
    rows(spark).map(_.select(col(c)).distinct())

  /** `df` minus the rows whose `c` was popped. */
  def minus(spark: SparkSession, df: DataFrame, c: String): DataFrame =
    ids(spark, c).fold(df)(d => df.join(broadcast(d), Seq(c), "left_anti"))

  /** The tombstone files now (empty when nothing is pending). */
  def snapshot(spark: SparkSession): Set[String] =
    rows(spark).fold(Set.empty[String])(_.inputFiles.toSet)

  /** Drop the tombstones if `snap` held some and they are still
    * exactly `snap`. An empty snapshot retires nothing: a first pop
    * writes its files before it registers the table, so the warehouse
    * may hold an in-flight pop that the catalog does not show yet.
    */
  def retire(spark: SparkSession, snap: Set[String]): Unit =
    if (snap.nonEmpty && snapshot(spark) == snap)
      TableSwap.dropManaged(spark, name)
}

object Tombstones {

  /** A store's id-grain tombstones. */
  def of(table: String): Tombstones = Tombstones(s"${table}_dels")

  /** The xref store's dataset-grain tombstones. */
  def ofDatasets(table: String): Tombstones = Tombstones(s"${table}_dsdels")
}
