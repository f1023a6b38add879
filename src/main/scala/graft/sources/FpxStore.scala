package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Fpx

/** The phonetic-fingerprint (fpx) table as a Spark-managed table — the
  * analogue of the reference's `..._fpx` ReplacingMergeTree
  * (engine.py:157-175: key (algorithm,value,prop,schema,dataset),
  * ORDER BY ...,entity_id; `_value` projection at engine.py:258).
  *
  * Layout: PARTITIONED BY algorithm (the 4-value enum — an
  * algorithm-slice query prunes 3/4 of the data, the WHERE
  * algorithm='fingerprint' of the freq view reads one partition),
  * BUCKETED BY value — every downstream aggregation (fpx_freq,
  * xref blocking) groups by `value`, and a hash partitioning on a
  * SUBSET of the grouping keys satisfies the aggregation's required
  * clustering, so those aggregations run with ZERO Exchange
  * (spec-asserted). At 100 TB the blocking pass over the fpx table is
  * scan + in-bucket aggregate, no shuffle of the fingerprint rows.
  */
object FpxStore {

  /** The ReplacingMergeTree key (engine.py:172-174) + entity_id: the
    * reference's versionless ReplacingMergeTree collapses FULL
    * duplicate keys, keeping an arbitrary survivor.
    */
  val keyCols: Seq[String] =
    Seq("algorithm", "value", "prop", "schema", "dataset", "entity_id")

  /** Append an fpx batch. `buckets` applies only when this call
    * creates the table; an existing table's catalog count governs
    * ([[BucketedLayout]]).
    */
  def append(fpx: DataFrame, table: String, buckets: Int = 64): Unit =
    layout.write(fpx, table, buckets)

  private val layout = BucketedLayout(bucketCols = Seq("value"),
    sortCols = Seq("value"), partCols = Seq("algorithm"))

  /** Raw read — may contain duplicate keys from re-ingests. */
  def read(spark: SparkSession, table: String): DataFrame =
    spark.table(table)

  /** FINAL read: one row per ReplacingMergeTree key. Versionless
    * dedup (any survivor) — dropDuplicates, which aggregates inside
    * the value buckets without an Exchange.
    */
  def readFinal(spark: SparkSession, table: String): DataFrame =
    read(spark, table).dropDuplicates(keyCols)

  /** The fpx_freq view over the STORED table (engine.py:222-236:
    * WHERE algorithm='fingerprint' — partition-pruned here — GROUP BY
    * value — in-bucket, shuffle-free).
    */
  def freq(spark: SparkSession, table: String): DataFrame =
    Fpx.freq(readFinal(spark, table)
      .filter(col("algorithm") === "fingerprint"))

  /** Blocking pairs from the stored table for one algorithm slice —
    * the test_fingerprints.py query against `..._fpx`. The FINAL dedup,
    * the size-guard window and the member-set aggregate all run inside
    * the value buckets of one store scan; the first exchange is the
    * pair expansion's.
    */
  def blocks(
      spark: SparkSession,
      table: String,
      algorithm: String = "fingerprint",
      minEntities: Long = 2,
      maxEntities: Long = 1000): DataFrame =
    Fpx.xrefBlocks(
      readFinal(spark, table).filter(col("algorithm") === algorithm),
      minEntities, maxEntities)

  /** Durable dedup, the same single-write [[TableSwap.rewrite]] as
    * [[StatementStore.compact]] (crash-window policy in [[TableSwap]]).
    * The rewrite keeps the creation bucket count ([[BucketedLayout]]);
    * `buckets` is ignored (it stays for existing positional callers).
    */
  def compact(spark: SparkSession, table: String, buckets: Int = 64): Unit =
    layout.rewrite(spark, table)(readFinal(spark, table))
}
