package graft.sources

import java.net.URI

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.TableIdentifier

import scala.util.control.NonFatal

/** Staged-table swap shared by the compact paths of every store —
  * the OPTIMIZE FINAL analogue writes the deduplicated rows ONCE to a
  * stage table, then this helper points the live name at them.
  * [[rewrite]] is the one stage-and-swap call; only the split
  * `compactStage`/`compactFinish` halves of the doc and vector stores
  * call the pieces ([[stageName]], [[dropAllStages]], [[swapIn]])
  * separately, because they write and swap at different times.
  *
  * The swap is `ALTER TABLE live SET LOCATION <stage dir>` — ONE
  * catalog operation, so there is NO moment where the live name fails
  * to resolve. Stage directories are VERSIONED (`<table>_stage_1`,
  * `_stage_2`, …, derived from the live table's current location) so
  * a stage write can never target the directory the live table
  * currently occupies.
  *
  * Crash points, in order:
  *   - before SET LOCATION: live table untouched; the stage table is
  *     garbage that [[dropStage]] reclaims on the next compact. A
  *     catalog that REFUSES the SET LOCATION lands here too: the error
  *     propagates and the live table is untouched;
  *   - after SET LOCATION, before the stage entry is detached: live
  *     serves the new rows; a stale stage entry points at the SAME
  *     directory — [[dropStage]] detaches it before dropping (a plain
  *     managed DROP would delete the live rows);
  *   - after the detach: only the orphaned old directory remains; its
  *     delete is best-effort cleanup.
  *
  * Cross-session visibility: the swap refreshes THIS session's
  * relation cache; another Spark session (including a streaming
  * query's clone — see `Streams.ingestDocs`) that cached the table's
  * file list before the swap must `REFRESH TABLE` before its next
  * read, Spark's standard contract after any external rewrite. The
  * swapping session itself never sees the stale list.
  */
object TableSwap {

  private def ident(table: String): TableIdentifier = TableIdentifier(table)

  private def location(spark: SparkSession, table: String): URI =
    spark.sessionState.catalog.getTableMetadata(ident(table)).location

  /** The live table's catalog bucket count (None when unbucketed) —
    * the creation count [[BucketedLayout]]'s writes keep.
    */
  def bucketsOf(spark: SparkSession, table: String): Option[Int] =
    spark.sessionState.catalog.getTableMetadata(ident(table))
      .bucketSpec.map(_.numBuckets)

  /** `table`'s catalog properties (TBLPROPERTIES) — where a store
    * records what it fixed at creation or last computed (a z
    * declaration, a graph refresh's parameters and watermarks).
    */
  def properties(spark: SparkSession, table: String): Map[String, String] =
    spark.sessionState.catalog.getTableMetadata(ident(table)).properties

  /** Set catalog properties on `table`, in one ALTER TABLE. */
  def setProperties(
      spark: SparkSession, table: String, props: (String, String)*): Unit =
    spark.sql(s"ALTER TABLE $table SET TBLPROPERTIES(" +
      props.map { case (k, v) => s"'$k'='$v'" }.mkString(",") + ")")

  /** Whether `table` is partitioned, per its catalog metadata. Gate
    * every `listPartitions` on it: the Hive catalog THROWS on a
    * non-partitioned table (the in-memory one returns an empty list,
    * which hid this until the Hive probe ran).
    */
  def partitioned(spark: SparkSession, table: String): Boolean =
    spark.sessionState.catalog.getTableMetadata(ident(table))
      .partitionColumnNames.nonEmpty

  /** The stage sibling name for the next compact of `table`: version =
    * one past the version embedded in the live table's current
    * location (1 when the live table still sits in its original,
    * unversioned directory). Monotone per swap, so the stage write
    * never lands in the directory the live table occupies.
    */
  def stageName(spark: SparkSession, table: String): String = {
    val loc = location(spark, table).toString
    val next = "_stage_(\\d+)/*$".r.findFirstMatchIn(loc)
      .map(_.group(1).toInt + 1).getOrElse(1)
    s"${table}_stage_$next"
  }

  /** Point a (possibly live-data-sharing) catalog entry at a throwaway
    * location so a later managed DROP cannot delete rows it does not
    * own. Partition entries must detach too: a managed DROP deletes
    * every PARTITION location individually, not just the table root,
    * so re-pointing the root alone would still delete the live rows of
    * a partitioned stage (dropPartitions with retainData keeps the
    * files). The throwaway location is an empty directory made just
    * before the move — SET LOCATION resolves the relation there, and a
    * missing directory logs a FileNotFoundException — and the managed
    * DROP that follows removes it.
    */
  private def detach(spark: SparkSession, table: String, loc: URI): Unit = {
    val cat = spark.sessionState.catalog
    if (partitioned(spark, table)) {
      val parts = cat.listPartitions(ident(table))
      if (parts.nonEmpty)
        cat.dropPartitions(ident(table), parts.map(_.spec),
          ignoreIfNotExists = true, purge = false, retainData = true)
    }
    val target = new org.apache.hadoop.fs.Path(
      s"${loc.toString.stripSuffix("/")}_detached")
    target.getFileSystem(spark.sessionState.newHadoopConf()).mkdirs(target)
    spark.sql(s"ALTER TABLE $table SET LOCATION '$target'")
  }

  /** Reclaim a stage table left by an earlier crashed compact WITHOUT
    * ever deleting live data: if the stage entry's location is the
    * live table's current location (crash after the swap, before the
    * detach), detach it first; only then drop.
    */
  def dropStage(spark: SparkSession, tmp: String, table: String): Unit = {
    val cat = spark.sessionState.catalog
    if (cat.tableExists(ident(tmp))) {
      val tmpLoc = location(spark, tmp)
      val shared = cat.tableExists(ident(table)) &&
        location(spark, table) == tmpLoc
      if (shared) detach(spark, tmp, tmpLoc)
      spark.sql(s"DROP TABLE IF EXISTS $tmp")
    }
  }

  /** Scheme/authority/path-normalized location string: `file:/x`,
    * `file:///x` and a trailing slash all normalize to `file:///x`, so
    * prefix tests and relative-path arithmetic survive whichever
    * spelling the catalog hands back (Hive and the in-memory catalog
    * disagree on the authority form for local paths).
    */
  private[graft] def normLoc(u: URI): String = {
    val auth = Option(u.getAuthority).getOrElse("")
    s"${u.getScheme}://$auth${u.getPath.stripSuffix("/")}"
  }

  /** Reclaim EVERY stage sibling of `table` (`<table>_stage_N` for any
    * N, plus the legacy pre-r8 `<table>_compacted` name), each through
    * [[dropStage]]'s shared-location guard. This — not a single
    * dropStage of the next version — is what compact and `init
    * --recreate` must call: a crash after SET LOCATION leaves the live
    * table SERVING `_stage_N` while the next compact stages into
    * `_stage_N+1`, so reclaiming only the new name would strand the
    * live-data-sharing entry forever (and a later plain DROP of that
    * innocent-looking leftover would delete the live rows).
    */
  def dropAllStages(spark: SparkSession, table: String): Unit = {
    dropStage(spark, s"${table}_compacted", table)
    val pat = java.util.regex.Pattern.quote(table) + "_stage_\\d+"
    spark.sessionState.catalog.listTables(
        spark.sessionState.catalog.getCurrentDatabase)
      .map(_.table).filter(_.matches(pat))
      .foreach(t => dropStage(spark, t, table))
  }

  /** Drop a managed table from the catalog AND the filesystem,
    * including its compact/stage siblings: the in-memory catalog
    * forgets tables between JVMs but their warehouse dirs persist, and
    * a stale dir fails the next saveAsTable with
    * LOCATION_ALREADY_EXISTS.
    */
  def dropManaged(spark: SparkSession, table: String): Unit = {
    dropAllStages(spark, table)
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val wh = new java.io.File(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"))
    Option(wh.listFiles()).getOrElse(Array.empty)
      .filter(d => d.getName == table ||
        d.getName == table + "_compacted" ||
        d.getName.startsWith(table + "_stage_"))
      .foreach(rm)
  }

  private def rm(f: java.io.File): Unit = {
    if (f.isDirectory)
      Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
    f.delete(); ()
  }

  /** Stage-and-swap: write `table`'s replacement rows once, through
    * `writeStage` (handed the stage table name to create), and swap
    * them in. Earlier stage siblings are reclaimed first.
    */
  def rewrite(spark: SparkSession, table: String)(
      writeStage: String => Unit): Unit = {
    val tmp = stageName(spark, table)
    dropAllStages(spark, table)
    writeStage(tmp)
    swapIn(spark, tmp, table)
  }

  /** Swap the fully-written stage table `tmp` over `table`. A
    * partitioned table (per its catalog metadata) gets its partition
    * entries re-synced under the new root (between the location move
    * and the sync, reads see the consistent OLD snapshot — never an
    * unresolvable name).
    */
  def swapIn(spark: SparkSession, tmp: String, table: String): Unit = {
    val cat = spark.sessionState.catalog
    val tmpLoc = location(spark, tmp)
    val oldLoc = location(spark, table)
    spark.sql(s"ALTER TABLE $table SET LOCATION '$tmpLoc'")
    if (partitioned(spark, table)) {
      // SET LOCATION moves only the TABLE root; a Hive-style catalog
      // keeps each partition entry's own location, still pointing
      // under the OLD root — and MSCK alone never fixes them (SYNC
      // skips specs that already exist and only drops specs whose
      // directories are GONE, which the old ones are not yet), so
      // after the old-root delete every read would return 0 rows.
      // Repoint each owned partition to the same relative path under
      // the new root FIRST (alterPartitions is metadata-only, and at
      // every instant each entry points at a complete snapshot — old
      // or new — so there is no empty-table window), then let MSCK
      // reconcile partitions that appeared/disappeared in the
      // compacted snapshot. Partitions at custom locations outside
      // the old root are not owned by the swap and are left alone.
      // normalized comparison (the catalog may spell the same local
      // path file:/x on the table and file:///x on its partitions),
      // `/`-bounded so a `_stage_1` root never claims a `_stage_10`
      // partition; the new URI is built through the encoding
      // constructor so partition values with URI-special characters
      // survive the decoded-path arithmetic
      val oldRoot = normLoc(oldLoc)
      val repointed = cat.listPartitions(ident(table)).flatMap { p =>
        p.storage.locationUri.collect {
          case u if normLoc(u).startsWith(oldRoot + "/") =>
            val rel = u.getPath.stripSuffix("/")
              .stripPrefix(oldLoc.getPath.stripSuffix("/"))
            p.copy(storage = p.storage.copy(locationUri = Some(
              new URI(tmpLoc.getScheme, tmpLoc.getAuthority,
                tmpLoc.getPath.stripSuffix("/") + rel, null, null))))
        }
      }
      if (repointed.nonEmpty) cat.alterPartitions(ident(table), repointed)
      spark.sql(s"MSCK REPAIR TABLE $table SYNC PARTITIONS")
    }
    spark.catalog.refreshTable(table)
    try {
      detach(spark, tmp, tmpLoc)
      spark.sql(s"DROP TABLE $tmp")
    } catch {
      // dropping an undetached stage entry would delete the rows the
      // live table now serves — leave the entry for the next
      // compact's dropStage instead
      case NonFatal(e) =>
        Console.err.println(s"[graft] TableSwap: could not detach stage " +
          s"entry $tmp (${e.getMessage}); leaving it for the next " +
          "compact to reclaim")
    }
    try {
      val p = new org.apache.hadoop.fs.Path(oldLoc)
      p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
      ()
    } catch { case NonFatal(_) => () } // orphan dir — harmless
  }
}
