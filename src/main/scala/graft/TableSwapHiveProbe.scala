package graft

import java.sql.Timestamp

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._


import graft.operators.Xref
import graft.sources.{StatementStore, TableSwap, XrefStore}

/** Diagnostic main: runs the staged-compact swap against a REAL Hive
  * metastore (embedded Derby), because the in-memory catalog every
  * spec uses resolves partition locations leniently and so cannot see
  * the failure mode a Hive deployment hits: `ALTER TABLE SET LOCATION`
  * moves only the table root, each partition entry keeps its own
  * location under the OLD root, `MSCK ... SYNC PARTITIONS` never
  * rewrites existing specs, and the swap's old-root delete then turns
  * every read into 0 rows with no error. [[graft.sources.TableSwap]]
  * repoints the owned partition entries before the MSCK; this probe
  * asserts, on the Hive catalog itself, that after each of two
  * consecutive compacts (a) every partition location sits under the
  * live root, (b) full and per-partition FINAL counts survive, and
  * (c) a stranded live-sharing stage entry from a simulated crash is
  * reclaimed by the next compact without touching live rows. A third
  * compact after an append, both naming 2 buckets, keeps the Hive
  * catalog's creation count of 4 and every point read. One
  * compact of an UNPARTITIONED xref store then checks that the swap's
  * catalog-derived partitioned flag keeps it off `listPartitions`,
  * which the Hive catalog refuses on such a table.
  *
  * Usage: sbt "runMain graft.TableSwapHiveProbe" — prints one JSON
  * line; any assertion failure is a non-zero exit.
  */
object TableSwapHiveProbe {
  def main(args: Array[String]): Unit = {
    val base = java.nio.file.Files
      .createTempDirectory("graft_hive_probe").toString
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tableswap-hive-probe")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"$base/warehouse")
      .config("spark.hadoop.javax.jdo.option.ConnectionURL",
        s"jdbc:derby:;databaseName=$base/metastore_db;create=true")
      .config("spark.ui.enabled", "false")
      .enableHiveSupport()
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    require(spark.conf.get("spark.sql.catalogImplementation") == "hive",
      "probe must run against the Hive catalog, got in-memory")

    val t = Timestamp.valueOf("2024-01-01 00:00:00")
    val stmts = Seq(
      ("s1", "e1", "e1", "name", "name", "Person", "Alice", "ds1", t),
      ("s2", "e1", "e1", "country", "string", "Person", "de", "ds1", t),
      ("s3", "e2", "e2", "name", "name", "Person", "Bob", "ds2", t))
      .toDF("id", "entity_id", "canonical_id", "prop", "prop_type",
        "schema", "value", "dataset", "last_seen")

    StatementStore.append(stmts, "hive_swap", buckets = 4)

    def liveLoc(table: String = "hive_swap"): String = spark.sessionState
      .catalog.getTableMetadata(org.apache.spark.sql.catalyst
        .TableIdentifier(table)).location.toString.stripSuffix("/")
    def partLocs(): Seq[String] = spark.sessionState.catalog
      .listPartitions(org.apache.spark.sql.catalyst.TableIdentifier(
        "hive_swap"))
      .flatMap(_.storage.locationUri).map(_.toString)
    def check(stage: String, total: Long = 3, inDs1: Long = 2): Unit = {
      // normLoc on both sides: catalogs mix file:/x and file:///x
      // spellings between table and partition entries
      val root = graft.sources.TableSwap.normLoc(
        java.net.URI.create(liveLoc()))
      val bad = partLocs().filterNot(l => graft.sources.TableSwap
        .normLoc(java.net.URI.create(l)).startsWith(root + "/"))
      require(bad.isEmpty,
        s"$stage: partitions point outside the live root $root: $bad")
      val fin = StatementStore.readFinal(spark, "hive_swap")
      val (all, ds1) =
        (fin.count(), fin.filter(col("dataset") === "ds1").count())
      require(all == total && ds1 == inDs1,
        s"$stage: FINAL read lost rows (total=$all, ds1=$ds1)")
      // a bucket-pruned point read finds every entity
      val lost = fin.select(col("canonical_id")).distinct().collect()
        .map(_.getString(0)).filter(id => StatementStore.read(spark,
          "hive_swap").filter(col("canonical_id") === id).count() == 0)
      require(lost.isEmpty, s"$stage: point reads lost ${lost.mkString(",")}")
    }

    check("pre-compact")
    StatementStore.compact(spark, "hive_swap", buckets = 4)
    check("compact-1")
    require(liveLoc().endsWith("_stage_1"),
      s"compact-1 did not take the SET LOCATION path: ${liveLoc()}")
    // simulated crash leftover: a stage entry of an older version
    // attached to the directory the live table currently serves — the
    // next compact must reclaim it through the detach guard
    spark.sql("CREATE TABLE hive_swap_stage_7 (x INT) USING parquet")
    spark.sql(s"ALTER TABLE hive_swap_stage_7 SET LOCATION '${liveLoc()}'")
    StatementStore.compact(spark, "hive_swap", buckets = 4)
    check("compact-2")
    require(liveLoc().endsWith("_stage_2"),
      s"compact-2 did not advance the stage version: ${liveLoc()}")
    require(!spark.catalog.tableExists("hive_swap_stage_7"),
      "compact-2 stranded the live-sharing stage entry")
    // an append and a compact naming another bucket count keep the
    // creation count the Hive catalog declares
    StatementStore.append(Seq(("s4", "e3", "e3", "name", "name", "Person",
        "Carol", "ds2", t)).toDF(stmts.columns.toSeq: _*), "hive_swap",
      buckets = 2)
    StatementStore.compact(spark, "hive_swap", buckets = 2)
    check("compact-3", total = 4)
    val buckets = TableSwap.bucketsOf(spark, "hive_swap")
    require(buckets.contains(4),
      s"compact-3 changed the catalog bucket count to $buckets")

    // unpartitioned store: the same swap, no partition re-sync
    val judge = (l: String, r: String, ts: Long) =>
      ("ds1", l, "Person", "de", l, "ds1", r, "Person", "de", r,
        "positive", 0.5, ts, "probe")
    XrefStore.append(Seq(judge("a", "b", 1L), judge("a", "b", 2L),
        judge("b", "c", 1L)).toDF(Xref.columns: _*), "hive_xref",
      buckets = 4)
    require(!TableSwap.partitioned(spark, "hive_xref"),
      "hive_xref should be unpartitioned")
    XrefStore.compact(spark, "hive_xref")
    val xrefLoc = liveLoc("hive_xref")
    require(xrefLoc.endsWith("_stage_1"),
      s"xref compact did not take the SET LOCATION path: $xrefLoc")
    val xrefRows = XrefStore.read(spark, "hive_xref").count()
    require(xrefRows == 2,
      s"xref compact kept $xrefRows rows, expected 2 latest judgements")

    println(s"""{"probe":"tableswap_hive","catalog":"hive",""" +
      s""""compacts":3,"rows":4,"buckets":${buckets.get},""" +
      s""""partitions":${partLocs().size},""" +
      s""""live":"${liveLoc()}","xref_compacts":1,""" +
      s""""xref_rows":$xrefRows,"xref_live":"$xrefLoc","ok":true}""")
    spark.stop()
  }
}
