package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Adjacency, EntityQuery}

/** Specs for the fluent ftmq-style query surface (f12-f15). */
class EntityQuerySpec extends AnyFunSuite {
  import SparkTestSession._

  private def stmts = {
    import spark.implicits._
    Seq(
      // (entity, canonical, schema, dataset, prop, prop_type, value)
      ("e1", "e1", "Person", "ds", "name", "name", "Alice Smith"),
      ("e1", "e1", "Person", "ds", "country", "string", "de"),
      ("e1", "e1", "Person", "ds", "amount", "number", "300"),
      ("e2", "e2", "Person", "ds", "name", "name", "Bob Jones"),
      ("e2", "e2", "Person", "ds", "country", "string", "fr"),
      ("e2", "e2", "Person", "ds", "amount", "number", "500"),
      ("e3", "e3", "Company", "ds", "name", "name", "Acme Agency"),
      ("e3", "e3", "Company", "ds", "owner", "entity", "e1"))
      .toDF("entity_id", "canonical_id", "schema", "dataset", "prop",
        "prop_type", "value")
  }

  test("where clauses AND; comparators filter entities not statements") {
    val out = EntityQuery(stmts).schema("Person")
      .where("country", "in", "de", "fr")
      .where("amount", "gte", "400")
      .entities().collect()
    assert(out.map(_.getString(0)).toSeq == Seq("e2"))
    // the assembled entity still carries ALL props of e2
    assert(out(0).getString(3).contains("name=Bob Jones"))
  }

  test("search matches any value, case-insensitive") {
    val out = EntityQuery(stmts).search("AGENCY").entities().collect()
    assert(out.map(_.getString(0)).toSeq == Seq("e3"))
  }

  test("orderByProp desc with slice") {
    val out = EntityQuery(stmts).schema("Person")
      .orderByProp("amount", desc = true).slice(0, 1).entities().collect()
    assert(out.map(_.getString(0)).toSeq == Seq("e2"))
  }

  test("statementsOut returns raw statements of the selection") {
    val out = EntityQuery(stmts).schema("Person")
      .where("country", "eq", "de").statementsOut().collect()
    assert(out.length == 3) // all of e1's statements
    assert(out.forall(_.getString(0) == "e1"))
  }

  test("aggregateProp sums over the selected entity set") {
    val out = EntityQuery(stmts).schema("Person")
      .aggregateProp("sum", "amount").collect()
    assert(out.length == 1 && out(0).getDouble(1) == 800.0)
  }

  test("reverse lookup composes with schema and prop clauses") {
    // e3 (Company) has owner -> e1, so reverse(e1) selects e3
    val out = EntityQuery(stmts).reverse("e1").entities().collect()
    assert(out.map(_.getString(0)).toSeq == Seq("e3"))
    val none = EntityQuery(stmts).schema("Person").reverse("e1")
      .entities().collect()
    assert(none.isEmpty)
  }

  test("id prefix comparators (entity_id__startswith)") {
    val out = EntityQuery(stmts).entityId("e", "startswith")
      .where("country", "eq", "fr").entities().collect()
    assert(out.map(_.getString(0)).toSeq == Seq("e2"))
  }

  test("query-scoped stats") {
    val st = EntityQuery(stmts).schema("Person").stats().collect()(0)
    // dataset, schema, entities, statements
    assert(st.getString(1) == "Person")
    assert(st.getLong(2) == 2 && st.getLong(3) == 6)
  }

  test("multiple aggregates in one pass") {
    val r = EntityQuery(stmts).schema("Person")
      .aggregateProps(Seq(("max", "amount"), ("min", "amount"),
        ("count", "amount"))).collect()(0)
    assert(r.getDouble(0) == 500.0)
    assert(r.getDouble(1) == 300.0)
    assert(r.getDouble(2) == 2.0)
  }

  test("xref judgements: latest ts wins per pair") {
    import spark.implicits._
    import java.sql.Timestamp
    val xref = Seq(
      ("a", "b", "no_judgement", 0.5, Timestamp.valueOf("2026-01-01 00:00:00")),
      ("a", "b", "positive", 0.9, Timestamp.valueOf("2026-02-01 00:00:00")),
      ("a", "c", "negative", 0.1, Timestamp.valueOf("2026-01-15 00:00:00")))
      .toDF("left_id", "right_id", "judgement", "score", "ts")
    val out = graft.operators.Fpx.latestJudgements(xref).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(out == Set(("a", "b", "positive"), ("a", "c", "negative")))
  }

  test("adjacency emits both directions") {
    val out = Adjacency.adjacent(stmts, "Person").collect()
      .map(r => (r.getString(0), r.getString(2), r.getString(3))).toSet
    assert(out == Set(("e1", "e3", "in"))) // e3's owner edge points at e1
    val outC = Adjacency.adjacent(stmts, "Company").collect()
      .map(r => (r.getString(0), r.getString(2), r.getString(3))).toSet
    assert(outC == Set(("e3", "e1", "out")))
  }

  test("a FINAL store read runs as one job over one scan, no Exchange below the ordering") {
    import java.sql.Timestamp
    import graft.sources.{StatementStore, TableSwap}
    import org.apache.spark.graftspec.Bus
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import spark.implicits._
    def ts(s: String) = Timestamp.valueOf(s)
    val table = "eq_final_scan"
    TableSwap.dropManaged(spark, table)
    val t1 = ts("2026-01-01 00:00:00")
    val t2 = ts("2026-02-01 00:00:00")
    // id, entity_id, canonical_id, prop, prop_type, schema, value,
    // dataset, last_seen, deleted: e1's country is re-observed (FINAL
    // keeps one row), e2's country is tombstoned, e3 lives in a second
    // dataset
    val rows = Seq(
      ("s1", "e1", "e1", "name", "name", "Person", "Alice", "ds1", t1, false),
      ("s2", "e1", "e1", "country", "string", "Person", "de", "ds1", t1, false),
      ("s2", "e1", "e1", "country", "string", "Person", "de", "ds1", t2, false),
      ("s3", "e2", "e2", "name", "name", "Person", "Bob", "ds1", t1, false),
      ("s4", "e2", "e2", "country", "string", "Person", "de", "ds1", t1, false),
      ("s4", "e2", "e2", "country", "string", "Person", "de", "ds1", t2, true),
      ("s5", "e3", "e3", "name", "name", "Person", "Cleo", "ds2", t1, false),
      ("s6", "e3", "e3", "country", "string", "Person", "de", "ds2", t1, false))
      .toDF("id", "entity_id", "canonical_id", "prop", "prop_type",
        "schema", "value", "dataset", "last_seen", "deleted")
    StatementStore.append(rows, table, buckets = 4)
    def query = EntityQuery(StatementStore.readFinal(spark, table))
      .where("country", "eq", "de").orderByProp("name", desc = true)
    val sliced = query.slice(0, 10).entities()
    val plan = sliced.queryExecution.executedPlan.toString
    assert(PlanCounters.shuffles(plan) == 0, plan)
    assert(plan.split("\n").count(_.contains("FileScan")) == 1, plan)
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    val got = try {
      Bus.drain(sc)
      jobs.set(0)
      val rows = sliced.collect()
      Bus.drain(sc)
      rows
    } finally sc.removeSparkListener(listener)
    assert(jobs.get == 1, s"${jobs.get} jobs")
    assert(got.map(_.getString(0)).toSeq == Seq("e3", "e1"))
    assert(got(1).getAs[String]("entity") == "country=de|name=Alice")
    // unsliced, the one exchange is the final ordering's range partitioning
    val full = query.entities().queryExecution.executedPlan.toString
      .split("\n").filter(_.contains("Exchange"))
    assert(full.nonEmpty && full.forall(_.contains("rangepartitioning")),
      full.mkString("\n"))
  }
}
