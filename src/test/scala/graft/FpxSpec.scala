package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Fpx

/** Specs for the multi-algorithm fpx feed (engine.py:162-180,
  * statements.py:44-48) and phonetic blocking.
  */
class FpxSpec extends AnyFunSuite {
  import SparkTestSession._

  private def stmts(rows: (String, String)*) = {
    import spark.implicits._
    rows.toSeq.toDF("entity_id", "value")
      .select(col("entity_id"), col("entity_id").as("canonical_id"),
        lit("LegalEntity").as("schema"), lit("ds").as("dataset"),
        lit("name").as("prop"), lit("name").as("prop_type"), col("value"))
  }

  test("fpx feed emits all four algorithms with exact values") {
    val fpx = Fpx.fromStatements(stmts("e1" -> "Tchibo Holding AG"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)))
      .toSet
    // blocking tokens: full fingerprint + every token >5 chars
    // (phonetic.py:32-37) — here "holding" and "tchibo"
    val tokens = Seq("ag holding tchibo", "holding", "tchibo")
    val expected = tokens.flatMap { t =>
      val (m1, m2) = DoubleMetaphoneVectors.of(t)
      Seq(("fingerprint", t), ("metaphone1", m1), ("metaphone2", m2),
        ("soundex", t match {
          case "ag holding tchibo" => "A243"
          case "holding" => "H435"
          case "tchibo" => "T210"
        }))
    }.filter(_._2.nonEmpty).toSet
    assert(fpx == expected)
  }

  test("fpx per-algorithm row counts: m2 only where an alternate exists") {
    val in = stmts("e1" -> "Smith", "e2" -> "Schmidt", "e3" -> "Otto")
    val counts = Fpx.fromStatements(in)
      .groupBy("algorithm").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // one token per name ("smith"/"schmidt"/"otto"; none >5 chars besides
    // the full fp which equals the token)
    assert(counts("fingerprint") == 3)
    assert(counts("metaphone1") == 3)
    assert(counts("soundex") == 3)
    // smith (SM0/XMT) and schmidt (XMT/SMT) have alternates; otto does not
    assert(counts("metaphone2") == 2)
  }

  test("algorithm subset skips phonetic branches; invalid rejected") {
    val in = stmts("e1" -> "Smith")
    val only = Fpx.fromStatements(in, algorithms = Seq("fingerprint"))
    assert(only.select("algorithm").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("fingerprint"))
    assertThrows[IllegalArgumentException] {
      Fpx.fromStatements(in, algorithms = Seq("nope"))
    }
  }

  test("metaphone blocking pairs entities fingerprint blocking misses") {
    // smith/schmidt: different fingerprints, same metaphone code family
    val in = stmts("e1" -> "Smith", "e2" -> "Schmidt", "e3" -> "Jones")
    val fpx = Fpx.fromStatements(in)
    val fpPairs = Fpx.xrefBlocks(
      fpx.filter(col("algorithm") === "fingerprint"), minEntities = 2)
      .collect()
    assert(fpPairs.isEmpty)
    // metaphone1("smith") = SM0; metaphone2("schmidt") = SMT;
    // metaphone1("schmidt") = XMT = metaphone2("smith") → they share a
    // code when blocking across metaphone1+metaphone2 (the reference
    // runs the block query per algorithm over the same value space)
    val phonetic = Fpx.xrefBlocks(
      fpx.filter(col("algorithm").startsWith("metaphone")), minEntities = 2)
      .collect()
      .map(r => (r.getString(0), r.getString(1)))
    assert(phonetic.contains(("e1", "e2")))
  }
  test("xref: candidates carry the 14-col row; re-judging upserts; reverse flips sides") {
    import spark.implicits._
    import graft.operators.Xref
    val in = stmts("e1" -> "Acme Trading Holding",
      "e2" -> "Acme Holding", "e3" -> "Acme Holding Trading GmbH")
      .unionByName(
        Seq(("e1", "de"), ("e2", "fr"), ("e3", "de")).toDF("entity_id", "value")
          .select(col("entity_id"), col("entity_id").as("canonical_id"),
            lit("LegalEntity").as("schema"), lit("ds").as("dataset"),
            lit("country").as("prop"), lit("country").as("prop_type"),
            col("value")))
    val pairs = Fpx.xrefBlocks(
      Fpx.fromStatements(in, algorithms = Seq("fingerprint")))
    val attrs = Xref.entityAttrs(in)
    val base = Xref.candidates(pairs, attrs, ts = lit(1L))
    assert(base.columns.toSeq == Xref.columns)
    val e12 = base.filter(col("left_id") === "e1" && col("right_id") === "e2")
      .collect()(0)
    assert(e12.getAs[String]("left_country") == "de")
    assert(e12.getAs[String]("right_country") == "fr")
    assert(e12.getAs[String]("right_caption") == "Acme Holding")
    // upsert: re-judge (e1, e2) at ts=2; FINAL keeps only the new row
    val judged = base.filter(col("left_id") === "e1" && col("right_id") === "e2")
      .withColumn("judgement", lit("positive"))
      .withColumn("ts", lit(2L))
    val latest = Xref.latestJudgements(base.unionByName(judged))
    assert(latest.count() == base.count())
    assert(latest.filter(col("left_id") === "e1" && col("right_id") === "e2")
      .collect()(0).getAs[String]("judgement") == "positive")
    // reverse projection leads with the right side; lookup filters on it
    val rev = Xref.reverse(latest)
    assert(rev.columns.take(2).toSeq == Seq("right_dataset", "right_id"))
    val hits = Xref.lookupByRight(latest, lit("e2")).collect()
    assert(hits.nonEmpty && hits.forall(_.getAs[String]("right_id") == "e2"))
  }

  test("boundedMemberSets ≡ naive collect_set for any key skew") {
    import spark.implicits._
    // keys with membership 1, in-range, at-cutoff, over-cutoff (hyper) —
    // plus duplicate (key, member) rows, which must not inflate sets
    val rows = Seq.tabulate(200)(i => ("hyper", s"m$i")) ++
      Seq.tabulate(5)(i => ("atmax", s"m$i")) ++
      Seq.tabulate(3)(i => ("mid", s"m$i")) ++
      Seq(("solo", "m0"), ("mid", "m1"), ("mid", "m1"))
    val df = rows.toDF("k", "member")
    val naive = df.groupBy(col("k"))
      .agg(sort_array(collect_set(col("member"))).as("ids"))
      .filter(size(col("ids")).between(2, 5))
      .collect().map(r => (r.getString(0), r.getSeq[String](1))).toSet
    for ((input, shape) <- Seq(
        (df.repartition(col("k")), "clustered"), (df, "unclustered"))) {
      val guarded = Fpx.boundedMemberSets(input, Seq("k"), "member", 2, 5)
        .collect().map(r => (r.getString(0), r.getSeq[String](1))).toSet
      assert(guarded == naive, shape)
    }
  }

  test("schema allowlist: non-listed schemas feed no fpx rows") {
    import spark.implicits._
    // should_fingerprint_stmt (statements.py:52-58): only Mention /
    // LegalEntity-family schemas fingerprint their name-typed props
    val in = Seq(
      ("e1", "Person", "Ann Smith"),
      ("e2", "Company", "Acme Holding"),
      ("e3", "Airplane", "Boeing 747"))
      .toDF("entity_id", "schema", "value")
      .select(col("entity_id"), col("entity_id").as("canonical_id"),
        col("schema"), lit("ds").as("dataset"), lit("name").as("prop"),
        lit("name").as("prop_type"), col("value"))
    val fed = Fpx.fromStatements(in, schemas = Fpx.DefaultSchemas)
      .select("entity_id").distinct().collect().map(_.getString(0)).toSet
    assert(fed == Set("e1", "e2")) // the Airplane's name never feeds fpx
    // empty allowlist = no restriction (non-FTM corpora)
    assert(Fpx.fromStatements(in).select("entity_id").distinct().count() == 3)
  }

  test("entityFpx: union of name-type and label-type token sets") {
    import spark.implicits._
    // get_entity_fpx (phonetic.py:73-82) fingerprints label-type values
    // as well as names; the statement feed covers only names
    val in = Seq(
      ("e1", "name", "name", "Tchibo Holding"),
      ("e1", "legalForm", "label", "Aktiengesellschaft"))
      .toDF("entity_id", "prop", "prop_type", "value")
      .select(col("entity_id"), col("entity_id").as("canonical_id"),
        lit("Company").as("schema"), lit("ds").as("dataset"),
        col("prop"), col("prop_type"), col("value"))
    val byAlg = Fpx.entityFpx(in).collect()
      .groupBy(_.getString(1))
      .view.mapValues(_.map(_.getString(2)).toSet).toMap
    assert(Fpx.AllAlgorithms.forall(byAlg.contains))
    // fingerprint tokens: both full fingerprints + all >5-char tokens
    assert(byAlg("fingerprint") == Set(
      "holding tchibo", "holding", "tchibo", "aktiengesellschaft"))
    // the label's token reaches the phonetic algorithms too
    val (m1, _) = DoubleMetaphoneVectors.of("aktiengesellschaft")
    assert(byAlg("metaphone1").contains(m1))
    // name-only feed (fromStatements) misses the label vocabulary
    val nameOnly = Fpx.fromStatements(in)
      .filter(col("algorithm") === "fingerprint")
      .collect().map(_.getString(1)).toSet
    assert(!nameOnly.contains("aktiengesellschaft"))
  }

  test("resolver: positive judgements merge entities transitively") {
    import spark.implicits._
    import graft.model.Statements
    import graft.operators.Xref
    // chain e1-e2, e2-e3 positive; e4-e5 re-judged negative at ts=2 —
    // the superseded positive must NOT link them after latestJudgements
    val xref = Seq(
      ("e1", "e2", "positive", 1L), ("e2", "e3", "positive", 1L),
      ("e4", "e5", "positive", 1L), ("e4", "e5", "negative", 2L))
      .toDF("left_id", "right_id", "judgement", "ts")
    val mapping = Xref.resolverMapping(Xref.latestJudgements(xref))
    val m = mapping.collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(m == Map("e1" -> "e1", "e2" -> "e1", "e3" -> "e1"))
    // applyResolver + assemble: the chained entities collapse into ONE
    // assembled entity under the cluster minimum; e4/e5 stay separate
    val stmts = Seq(
      ("e1", "name", "Ann"), ("e2", "name", "Ann B"), ("e3", "name", "A. B."),
      ("e4", "name", "Zoe"), ("e5", "name", "Zoe Q"))
      .toDF("entity_id", "prop", "value")
      .select(col("entity_id"), col("entity_id").as("canonical_id"),
        lit("Person").as("schema"), lit("ds").as("dataset"),
        col("prop"), lit("name").as("prop_type"), col("value"))
    val assembled = Statements.assemble(
      Statements.applyResolver(stmts, mapping))
      .collect().map(r => r.getString(0) -> r.getLong(4)).toMap
    assert(assembled == Map("e1" -> 3L, "e4" -> 1L, "e5" -> 1L))
    // f11's mapping-table mode: unmapped entities resolve to themselves
    val lookup = graft.operators.Fpx.canonicalizeByMapping(stmts, mapping)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(lookup == Map("e1" -> "e1", "e2" -> "e1", "e3" -> "e1",
      "e4" -> "e4", "e5" -> "e5"))
  }

  test("distinctPairs ≡ distinct on a duplicated pair stream") {
    import spark.implicits._
    val pairs = Seq(("a", "b"), ("a", "b"), ("a", "c"), ("b", "c"),
      ("b", "c"), ("b", "c")).toDF("left_id", "right_id")
    assert(Fpx.distinctPairs(pairs).collect().map(r =>
      (r.getString(0), r.getString(1))).toSet ==
      Set(("a", "b"), ("a", "c"), ("b", "c")))
  }
}

/** Shared access to the Scala doublemetaphone for expected values —
  * keeps FpxSpec assertions tied to the spec'd encoder rather than
  * hand-copied strings.
  */
object DoubleMetaphoneVectors {
  def of(s: String): (String, String) =
    graft.functions.DoubleMetaphone.encode(s)
}
