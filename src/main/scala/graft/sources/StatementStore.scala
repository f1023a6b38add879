package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.ReplacingMerge

/** The statement store as a Spark-managed table — the analogue of the
  * reference's ClickHouse MergeTree layout (engine.py:130-247), mapped
  * to Spark storage primitives:
  *
  *   - PARTITIONED BY dataset → partition pruning replaces the
  *     `dataset` skip index; a dataset drop is a metadata delete.
  *   - BUCKETED BY canonical_id, sorted → entity assembly, canonical
  *     lookup and statement upserts are shuffle-FREE joins/aggregations
  *     (the bucketing is the ClickHouse ORDER BY key's analogue).
  *   - ReplacingMergeTree(last_seen) → [[ReplacingMerge.latestByKey]]
  *     applied lazily at read ("FINAL") or durably via [[compact]]
  *     (OPTIMIZE FINAL DEDUPLICATE, engine.py:115-117).
  *
  * At 100 TB: one statement table is ~10^11 rows; with 4096 buckets a
  * per-entity operation touches one bucket file per partition, and
  * bucket-pruned point lookups (canonical_id = X) read a single file
  * (for filter-only point lookups set
  * `spark.sql.sources.bucketing.autoBucketedScan.enabled=false` —
  * the planner otherwise drops bucketed reading when no join/agg
  * wants the partitioning).
  */
object StatementStore {

  val keyCols: Seq[String] =
    Seq("canonical_id", "entity_id", "prop", "value", "id")

  /** Append a statement batch (the ClickhouseWriter._upsert_batch
    * equivalent, store.py:54-60). Duplicate keys are NOT collapsed at
    * write time — FINAL semantics happen at read or compaction, like
    * the reference's async merges.
    *
    * Every stored row carries a `deleted` tombstone flag (added as
    * false when the batch doesn't have one) — the
    * `ReplacingMergeTree(ver, is_deleted)` pattern that makes
    * [[pop]]-style deletes append-only.
    *
    * `buckets` and `zorder` apply only when this call CREATES the
    * table ([[BucketedLayout]]'s creation rule — like ClickHouse's
    * ORDER BY, a MergeTree's key cannot change in place either;
    * engine.py:130): an existing table's catalog bucket count and z
    * declaration govern every later append, pop and compact. Created
    * with `zorder = Some((cols, bits))`, every file the store ever
    * writes is internally Z-ORDERED on those columns ([[ZOrderLayout]]
    * — a stored `__z` sort key the readers never see), so range scans
    * on ANY laid-out column prune row groups from footer stats where
    * the canonical canonical_id sort prunes none. `writerOptions`
    * act only on a creating write too: Spark records the creating
    * write's options in the catalog entry, and every later append
    * writes under those.
    */
  def append(statements: DataFrame, table: String, buckets: Int = 64,
      zorder: Option[(Seq[String], Int)] = None,
      writerOptions: Map[String, String] = Map.empty): Unit = {
    val withDel =
      if (statements.columns.contains("deleted"))
        statements.withColumn("deleted", col("deleted").cast("boolean"))
      else statements.withColumn("deleted", lit(false))
    layout.write(withDel, table, buckets, zorder, writerOptions)
  }

  /** The one physical layout: dataset partitions, canonical_id buckets,
    * canonical_id-sorted files (or `__z`-sorted on a z-ordered store),
    * a split-block bloom filter on canonical_id — the id a z store's
    * files are never sorted by, and the point-lookup key.
    */
  private val layout = BucketedLayout(
    bucketCols = Seq("canonical_id"), sortCols = Seq("canonical_id"),
    partCols = Seq("dataset"), bloomCols = Seq("canonical_id"))

  /** Raw read — may contain superseded duplicate keys and tombstones. */
  def read(spark: SparkSession, table: String): DataFrame =
    spark.table(table)

  /** FINAL read: latest version per statement key (ReplacingMergeTree
    * semantics), tombstoned keys dropped. Because the table is bucketed
    * by canonical_id — the leading key column — the dedup window runs
    * inside each bucket without an Exchange. The tombstone flag is a
    * version tiebreaker (a delete at the same last_seen still wins) and
    * is removed from the output: readFinal returns the LOGICAL
    * statement table.
    */
  def readFinal(spark: SparkSession, table: String): DataFrame = {
    // __z is the physical z-order sort key of laid-out stores — pure
    // placement, never part of the logical statement row
    val df = read(spark, table).drop("__z")
    if (!df.columns.contains("deleted"))
      ReplacingMerge.latestByKey(df,
        keys = keyCols.map(col), version = Seq(col("last_seen")))
    else
      ReplacingMerge.latestByKey(df,
        keys = keyCols.map(col),
        version = Seq(col("last_seen"), col("deleted")))
        .filter(!col("deleted"))
        .drop("deleted")
  }

  /** Return-and-remove one entity's statements — the
    * `ClickhouseWriter.pop` contract (store.py:66-74). The remove is
    * APPEND-ONLY: a tombstone row (deleted=true, versioned past the
    * live row) is written per popped statement, so no other entity's
    * data is rewritten — FINAL reads exclude the entity immediately and
    * [[compact]] later drops the dead rows physically. Re-inserting the
    * entity with a newer last_seen resurrects it, exactly like
    * ReplacingMergeTree's is_deleted handling.
    *
    * The popped statements are materialized BEFORE the tombstones are
    * appended (the reference returns a list, not a cursor) — one
    * entity's statements are bounded, so the collect is safe.
    * `buckets` is ignored: the store exists, so its creation count
    * governs the tombstone append (the parameter stays for existing
    * positional callers).
    */
  def pop(
      spark: SparkSession,
      table: String,
      entityId: String,
      buckets: Int = 64): DataFrame = {
    val popped = readFinal(spark, table)
      .filter(col("entity_id") === entityId)
    val rows = popped.collect()
    val returned = spark.createDataFrame(
      java.util.Arrays.asList(rows: _*), popped.schema)
    if (rows.nonEmpty) {
      val tombstones = returned
        .withColumn("last_seen",
          expr("greatest(current_timestamp(), last_seen + INTERVAL 1 MILLISECOND)"))
        .withColumn("deleted", lit(true))
      append(tombstones, table, buckets)
    }
    returned
  }

  /** Drop one dataset — a partition-level metadata delete, the
    * analogue of the reference's dataset drop (`engine.py` DROP of the
    * dataset scope). No data rewrite for the surviving datasets.
    */
  def dropDataset(spark: SparkSession, table: String, dataset: String): Unit =
    spark.sql(s"ALTER TABLE $table DROP IF EXISTS PARTITION (dataset = '$dataset')")

  /** Durable dedup — the OPTIMIZE TABLE ... FINAL DEDUPLICATE twin:
    * rewrite the table with FINAL applied (superseded versions AND
    * tombstoned keys physically dropped).
    *
    * The FINAL rows are written exactly ONCE, to a versioned stage
    * table, which [[TableSwap.rewrite]] points the live name at with a
    * single location swap — no moment exists with the table absent from
    * the catalog (the crash-window policy lives there), and the live
    * table keeps its TBLPROPERTIES, the z-order declaration included.
    * The rewrite keeps the creation bucket count and z layout
    * ([[BucketedLayout]]); `buckets` is ignored (it stays for existing
    * positional callers). A z-ordered store is re-laid-out with compact-global
    * bounds (the whole corpus in one write = the optimal z placement,
    * OPTIMIZE improving on the appends' write-local bounds, exactly a
    * MergeTree merge). At 100 TB: one write per OPTIMIZE, not two.
    */
  def compact(spark: SparkSession, table: String, buckets: Int = 64,
      writerOptions: Map[String, String] = Map.empty): Unit =
    // deleted=false restored so the stage table keeps the physical
    // schema and later appends line up against the catalog.
    layout.rewrite(spark, table, writerOptions)(
      readFinal(spark, table).withColumn("deleted", lit(false)))
}
