package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Phonetics
import graft.operators.{Dedup, ReplacingMerge}

/** Property-based invariants (scalacheck). Spark-backed properties
  * batch all generated rows into a single job per trial; pure-function
  * properties run at full trial counts.
  */
class PropertySpec extends AnyFunSuite {
  import SparkTestSession._

  private def check(p: Prop, minTests: Int = 100): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(minTests), p)
    assert(res.passed, res.status.toString)
  }

  private val wordGen: Gen[String] =
    Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.mkString)
  private val textGen: Gen[String] =
    Gen.listOf(Gen.oneOf(wordGen, Gen.const(" "), Gen.const("-")))
      .map(_.mkString(" "))

  test("metaphone: deterministic, bounded, uppercase-alphabet output") {
    check(Prop.forAll(textGen) { s =>
      val m = Phonetics.metaphone(s)
      m == Phonetics.metaphone(s) &&
        m.length <= 9 && // 8 cap + possible final KS expansion
        m.forall(c => (c >= 'A' && c <= 'Z') || c == '0')
    })
  }

  test("fingerprint: idempotent, sorted, deduplicated (one batched job)") {
    import spark.implicits._
    val samples = Gen.listOfN(300, textGen).sample.get
    val df = samples.toDF("s")
      .select(Phonetics.fingerprint(col("s")).as("fp"))
      .select(col("fp"), Phonetics.fingerprint(col("fp")).as("fp2"))
    df.collect().foreach { r =>
      val (fp, fp2) = (r.getString(0), r.getString(1))
      assert(fp == fp2, s"not idempotent: '$fp' -> '$fp2'")
      val toks = fp.split(" ").filter(_.nonEmpty)
      assert(toks.sorted.sameElements(toks), s"not sorted: $fp")
      assert(toks.distinct.length == toks.length, s"dupes: $fp")
    }
  }

  test("native scan expressions == composed twins on random unicode text (one batched job)") {
    import spark.implicits._
    import graft.functions.{NgramHashesExpression, TokenHashesExpression}
    // wider alphabet than the docs tables: multi-byte unicode, digits,
    // punctuation, repeated words, empty/whitespace-only strings
    val uWord: Gen[String] = Gen.nonEmptyListOf(Gen.oneOf(
      Gen.alphaNumChar, Gen.oneOf('ä', 'é', 'ß', '中', '!', '-', '5')))
      .map(_.mkString)
    val uText: Gen[String] = Gen.frequency(
      8 -> Gen.listOf(Gen.oneOf(uWord, uWord, Gen.const("dup word")))
        .map(_.mkString(" ")),
      1 -> Gen.const(""), 1 -> Gen.const("   "))
    val samples = Gen.listOfN(400, uText).sample.get
    val ws = Dedup.words(col("s"))
    val df = samples.toDF("s").select(
      // bigram stats (t7)
      graft.functions.BigramStatsExpression.bigramStats(ws).as("nbs"),
      // shingles (d3/t4) at n=2 and 3
      Dedup.shinglesN(col("s"), 2).as("nsh2"),
      Dedup.shinglesNComposed(col("s"), 2).as("csh2"),
      Dedup.shinglesN(col("s"), 3).as("nsh3"),
      Dedup.shinglesNComposed(col("s"), 3).as("csh3"),
      // gram hashes (t5)
      NgramHashesExpression.ngramHashes(ws, 2, seed = 0).as("ngh"),
      // token hashes (d2)
      TokenHashesExpression.tokenHashes(ws, seed = 0).as("nth"),
      Dedup.tokenHashesComposed(col("s")).as("cth"),
      // fingerprint + fpx tokens (f5/f6/f8/f17)
      Phonetics.fingerprint(col("s")).as("nfp"),
      Phonetics.fingerprintComposed(col("s")).as("cfp"))
      .withColumn("cgh", transform(col("csh2"),
        g => Dedup.md5Hash60(lit(0), g)))
      .withColumn("nft", Phonetics.fpxTokens(col("nfp")))
      .withColumn("cft", Phonetics.fpxTokensComposed(col("cfp")))
    df.collect().foreach { r =>
      def seq[T](name: String): Seq[T] = r.getSeq[T](r.fieldIndex(name))
      assert(seq[String]("nsh2") == seq[String]("csh2"))
      assert(seq[String]("nsh3") == seq[String]("csh3"))
      assert(seq[Long]("ngh") == seq[Long]("cgh"))
      assert(seq[Long]("nth") == seq[Long]("cth"))
      assert(r.getAs[String]("nfp") == r.getAs[String]("cfp"))
      assert(seq[String]("nft") == seq[String]("cft"))
      // bigram stats invariants vs the shingle ground truth: n_distinct
      // equals the distinct 2-gram count, and top_count is bounded
      val bs = r.getStruct(r.fieldIndex("nbs"))
      val nd = seq[String]("nsh2").size.toLong
      assert(bs.getLong(1) == nd)
      assert(bs.getLong(2) <= bs.getLong(0) &&
        (bs.getLong(0) == 0L || bs.getLong(2) >= 1L))
    }
  }

  test("replacing merge: exactly one survivor per key, with max version") {
    import spark.implicits._
    val rowsGen = Gen.listOfN(200,
      Gen.zip(Gen.choose(0, 20), Gen.choose(0, 50), Gen.choose(0L, 1000L)))
    check(Prop.forAll(rowsGen) { rows =>
      val df = rows.map { case (k, v, ver) => (k, v, ver) }
        .toDF("k", "v", "ver")
      val out = ReplacingMerge.latestByKey(df,
        keys = Seq(col("k")), version = Seq(col("ver"), col("v")))
        .collect().map(r => (r.getInt(0), r.getLong(2))).toMap
      val expect = rows.groupBy(_._1)
        .map { case (k, g) => k -> g.map(_._3).max }
      out.keySet == expect.keySet &&
        expect.forall { case (k, maxVer) => out(k) == maxVer }
    }, minTests = 10)
  }

  test("EntityQuery matches a brute-force in-memory model on random data") {
    import spark.implicits._
    // (entity_id, canonical_id, schema, dataset, prop, prop_type, value)
    val stmtGen = for {
      e <- Gen.choose(1, 12)
      sch <- Gen.oneOf("Person", "Company")
      p <- Gen.oneOf("name", "country", "amount")
      v <- Gen.oneOf("10", "20", "250", "de", "fr", "ann", "bob")
    } yield (s"e$e", s"e$e", sch, "ds", p,
      if (p == "name") "name" else "string", v)

    val qGen = for {
      sch <- Gen.option(Gen.oneOf("Person", "Company"))
      prop <- Gen.oneOf("country", "amount")
      op <- Gen.oneOf("eq", "gte", "lt", "startswith")
      v <- Gen.oneOf("10", "20", "de", "f")
    } yield (sch, prop, op, v)

    val prop = Prop.forAll(Gen.listOfN(60, stmtGen), qGen) {
      case (rows, (sch, p, op, v)) =>
        val distinctRows = rows.distinct
        // brute-force model: entity passes if schema matches and SOME
        // statement of prop p satisfies the string comparator
        def cmpS(a: String): Boolean = op match {
          case "eq" => a == v
          case "gte" => a >= v
          case "lt" => a < v
          case "startswith" => a.startsWith(v)
        }
        val bySchema = distinctRows.filter(r => sch.forall(_ == r._3))
        val expect = bySchema.groupBy(_._2).collect {
          case (id, g) if g.exists(r => r._5 == p && cmpS(r._7)) => id
        }.toSet

        var q = graft.operators.EntityQuery(distinctRows.toDF(
          "entity_id", "canonical_id", "schema", "dataset", "prop",
          "prop_type", "value"))
          .where(p, op, v)
        sch.foreach(s => q = q.schema(s))
        val got = q.entities().collect().map(_.getString(0)).toSet
        got == expect
    }
    check(prop, minTests = 8)
  }

  test("EntityQuery over a FINAL store read matches a brute-force model (versions, tombstones, cross-group flags)") {
    import spark.implicits._
    import graft.operators.EntityQuery
    import graft.sources.{StatementStore, TableSwap}
    val values = Map(
      "name" -> Seq("Ann Lee", "Acme Ltd", "Bob"),
      "country" -> Seq("de", "fr", "us"),
      "amount" -> Seq("10", "20", "250"),
      "owner" -> Seq("e1", "e2"))
    val place = for {
      sch <- Gen.oneOf("Person", "Company")
      ds <- Gen.oneOf("ds1", "ds2")
    } yield (sch, ds)
    // one statement key's history: an insert at last_seen 1, then at 2
    // nothing, a re-observation (possibly in another schema or dataset)
    // or a tombstone, then at 3 possibly a resurrection
    val fact = for {
      e <- Gen.choose(1, 6)
      p <- Gen.oneOf(values.keys.toSeq.sorted)
      v <- Gen.oneOf(values(p))
      first <- place
      second <- Gen.oneOf(Gen.const(None),
        place.map(x => Some((x, false))), place.map(x => Some((x, true))))
      third <- Gen.option(place)
    } yield (e, p, v, Seq(Some((first, false)), second,
      third.map(x => (x, false))))
    val comparators = Gen.oneOf(
      Gen.oneOf("de", "fr", "us").map(v => ("country", "eq", Seq(v))),
      Gen.oneOf("10", "20", "250").map(v => ("amount", "gte", Seq(v))),
      Gen.oneOf("20", "250").map(v => ("amount", "lt", Seq(v))),
      Gen.const(("country", "in", Seq("de", "us"))),
      Gen.const(("name", "startswith", Seq("A"))))
    // `all`: every clause kind at once; otherwise one where clause and
    // each other clause or filter now and then, so selections are
    // rarely empty and an entity's flags often come from another
    // (schema, dataset) group than some of its statements
    def clauses(all: Boolean) = {
      def rarely[T](g: Gen[T]) = Gen.frequency((3, Gen.const(None)),
        (1, g.map(Some(_))))
      def opt[T](g: Gen[T]) = if (all) g.map(Some(_)) else rarely(g)
      for {
        sch <- rarely(Gen.oneOf("Person", "Company"))
        ds <- rarely(Gen.oneOf("ds1", "ds2"))
        where <- comparators.map(Some(_))
        search <- opt(Gen.oneOf("a", "E", "lee"))
        rev <- opt(Gen.oneOf("e1", "e2"))
        order <- opt(Gen.zip(Gen.oneOf("amount", "name", "country"),
          Gen.oneOf(true, false)))
        slice <- opt(Gen.zip(Gen.choose(0, 2), Gen.choose(1, 4)))
      } yield (sch, ds, where, search, rev, order, slice)
    }
    val table = "prop_eq_final"
    // (entity_id, canonical_id, prop, prop_type, schema, dataset, value)
    type S = (String, String, String, String, String, String, String)
    def cmpS(op: String, a: String, vs: Seq[String]): Boolean = op match {
      case "eq" => a == vs.head
      case "gte" => a >= vs.head
      case "lt" => a < vs.head
      case "startswith" => a.startsWith(vs.head)
      case "in" => vs.contains(a)
    }
    def cmpOrd(a: Option[String], b: Option[String], desc: Boolean): Int =
      (a, b) match {
        case (None, None) => 0
        case (None, _) => if (desc) 1 else -1
        case (_, None) => if (desc) -1 else 1
        case (Some(x), Some(y)) => if (desc) y.compareTo(x) else x.compareTo(y)
      }
    def cents(v: String): Long = math.round(v.toDouble * 100)
    def dbl(r: org.apache.spark.sql.Row, i: Int): Option[Double] =
      if (r.isNullAt(i)) None else Some(r.getDouble(i))
    val prop = Prop.forAllNoShrink(Gen.listOfN(80, fact), clauses(all = true),
      clauses(all = false)) { (facts, full, partial) =>
      val keyed = facts.groupBy(f => (f._1, f._2, f._3)).values.map(_.head)
        .toSeq.sortBy(f => (f._1, f._2, f._3))
      // canonical_id clusters entities e and e + 3: one canonical id
      // spans two entity ids as well as schemas and datasets
      def canon(e: Int) = s"e${(e - 1) % 3 + 1}"
      val versions = for {
        (e, p, v, hist) <- keyed
        (step, ver) <- hist.zipWithIndex.collect { case (Some(x), i) => (x, i + 1L) }
      } yield {
        val ((sch, ds), deleted) = step
        (s"e$e.$p.$v", s"e$e", canon(e), p,
          if (p == "owner") "entity" else if (p == "name") "name" else "string",
          sch, v, ds, ver, deleted)
      }
      TableSwap.dropManaged(spark, table)
      for (ver <- 1L to 3L) {
        val batch = versions.filter(_._9 == ver)
        if (batch.nonEmpty) StatementStore.append(batch.toDF("id",
          "entity_id", "canonical_id", "prop", "prop_type", "schema",
          "value", "dataset", "last_seen", "deleted"), table, buckets = 4)
      }
      val fin: Seq[S] = versions.groupBy(_._1).values.map(_.maxBy(_._9))
        .filter(!_._10).map(r => (r._2, r._3, r._4, r._5, r._6, r._8, r._7))
        .toSeq
      Seq(full, partial).forall { case (sch, ds, where, search, rev, order, slice) =>
        var q = EntityQuery(StatementStore.readFinal(spark, table))
        sch.foreach(x => q = q.schema(x))
        ds.foreach(x => q = q.dataset(x))
        where.foreach { case (p, op, vs) => q = q.where(p, op, vs: _*) }
        search.foreach(x => q = q.search(x))
        rev.foreach(x => q = q.reverse(x))
        order.foreach { case (p, desc) => q = q.orderByProp(p, desc) }
        slice.foreach { case (o, l) => q = q.slice(o, l) }
        // the model: flags over ALL of an entity's filtered statements,
        // whatever their schema and dataset
        val base = fin.filter(r => sch.forall(_ == r._5) && ds.forall(_ == r._6))
        val sel = base.groupBy(_._2).filter { case (_, g) =>
          where.forall { case (p, op, vs) =>
            g.exists(r => r._3 == p && cmpS(op, r._7, vs)) } &&
          search.forall(n => g.exists(_._7.toLowerCase.contains(n.toLowerCase))) &&
          rev.forall(id => g.exists(r => r._4 == "entity" && r._7 == id))
        }
        val groups = sel.toSeq.flatMap { case (c, g) =>
          val ord = order.flatMap { case (p, _) =>
            g.filter(_._3 == p).map(_._7).minOption }
          g.groupBy(r => (r._5, r._6)).toSeq.map { case ((s, d), rs) =>
            (ord, (c, s, d, rs.map(r => s"${r._3}=${r._7}").sorted
              .mkString("|"), rs.size.toLong))
          }
        }
        val desc = order.exists(_._2)
        val ordered = groups.sortWith { case ((o1, a), (o2, b)) =>
          val c = cmpOrd(o1, o2, desc)
          if (c != 0) c < 0
          else Ordering[(String, String, String)].lt((a._1, a._2, a._3),
            (b._1, b._2, b._3))
        }.map(_._2)
        val wantEntities = slice.fold(ordered) { case (o, l) =>
          ordered.slice(o, o + l) }
        val gotEntities = q.entities().collect().map(r => (r.getString(0),
          r.getString(1), r.getString(2), r.getString(3), r.getLong(4))).toSeq
        val out = sel.values.flatten.toSeq
        val gotOut = q.statementsOut().collect().map(r => (
          r.getAs[String]("entity_id"), r.getAs[String]("canonical_id"),
          r.getAs[String]("prop"), r.getAs[String]("prop_type"),
          r.getAs[String]("schema"), r.getAs[String]("dataset"),
          r.getAs[String]("value"))).toSeq
        val wantStats = out.groupBy(r => (r._6, r._5)).map { case ((d, s), rs) =>
          (d, s, rs.map(_._2).distinct.size.toLong, rs.size.toLong) }.toSet
        val gotStats = q.stats().collect().map(r => (r.getString(0),
          r.getString(1), r.getLong(2), r.getLong(3))).toSet
        val amounts = out.filter(_._3 == "amount").map(_._7)
        val sumA = amounts.map(cents).sum / 100.0
        val wantProps =
          if (amounts.isEmpty) Seq(None, None, None, Some(0.0), None)
          else Seq(Some(sumA), Some(amounts.map(_.toDouble).min),
            Some(amounts.map(_.toDouble).max), Some(amounts.size.toDouble),
            Some(sumA / amounts.size))
        val gotProps = {
          val r = q.aggregateProps(Seq(("sum", "amount"), ("min", "amount"),
            ("max", "amount"), ("count", "amount"), ("avg", "amount")))
            .collect()(0)
          (0 until 5).map(dbl(r, _))
        }
        val wantByCountry = sel.values.toSeq.flatMap { g =>
          for (a <- g.filter(_._3 == "amount"); c <- g.filter(_._3 == "country"))
            yield (c._7, cents(a._7))
        }.groupBy(_._1).map { case (c, xs) => c -> xs.map(_._2).sum / 100.0 }
        val gotByCountry = q.aggregateProp("sum", "amount", Some("country"))
          .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
        gotEntities == wantEntities && gotOut.sorted == out.sorted &&
          gotStats == wantStats && gotProps == wantProps &&
          gotByCountry == wantByCountry
      }
    }
    try check(prop, minTests = 4)
    finally TableSwap.dropManaged(spark, table)
  }

  test("boundedMemberSets == the unguarded set build, on an FpxStore and an unclustered frame") {
    import spark.implicits._
    import graft.operators.Fpx
    import graft.sources.{FpxStore, TableSwap}
    val (lo, hi) = (2L, 5L)
    // one key's rows: `n` distinct members (below min, at min, in range,
    // at max, above max, above 2·max), repeated rows and null members
    def keyRows(n: Int) = for {
      from <- Gen.choose(0, 20)
      dups <- Gen.choose(0, 3)
      nulls <- Gen.choose(0, 2)
    } yield {
      val ms = (0 until n).map(i => Option(s"m${from + i}"))
      ms ++ ms.take(dups) ++ Seq.fill(nulls)(None)
    }
    val sized = Gen.oneOf(1, 2, 3, 5, 6, 11, 16).flatMap(keyRows)
    val table = "prop_bms_fpx"
    def sets(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (Option(r.getString(0)), r.getSeq[String](1))).toSet
    val prop = Prop.forAll(Gen.listOfN(8, sized),
      Gen.oneOf(2, 3, 5).flatMap(keyRows), Gen.long) { (keys, nullKey, seed) =>
      val rows = new scala.util.Random(seed).shuffle(
        keys.zipWithIndex.flatMap { case (ms, i) => ms.map((Option(s"k$i"), _)) } ++
          nullKey.map((Option.empty[String], _)))
      val df = rows.toDF("value", "entity_id")
      val model = sets(df.groupBy(col("value"))
        .agg(sort_array(collect_set(col("entity_id"))).as("ids"))
        .filter(size(col("ids")).between(lo, hi)))
      // the null key's members are in range, so the unguarded form
      // builds a block for it; the guarded one never may
      val want = model.filter(_._1.isDefined)
      TableSwap.dropManaged(spark, table)
      FpxStore.append(df.select(lit("fingerprint").as("algorithm"),
        col("value"), lit("name").as("prop"), lit("S").as("schema"),
        lit("ds").as("dataset"), col("entity_id")), table, buckets = 4)
      val stored = FpxStore.readFinal(spark, table)
        .filter(col("algorithm") === "fingerprint")
      model.exists(_._1.isEmpty) &&
        sets(Fpx.boundedMemberSets(df, Seq("value"), "entity_id", lo, hi)) == want &&
        sets(Fpx.boundedMemberSets(stored, Seq("value"), "entity_id", lo, hi)) == want
    }
    try check(prop, minTests = 4)
    finally TableSwap.dropManaged(spark, table)
  }

  test("resolverMapping == union-find components on random judgement graphs") {
    import spark.implicits._
    import graft.operators.Xref
    // a handful of random graphs, each one Spark job chain; the
    // reference answer is a driver-side union-find with min-id roots
    val edgesGen = Gen.listOf(for {
      a <- Gen.choose(0, 19); b <- Gen.choose(0, 19) if a != b
    } yield (s"e$a", s"e$b"))
    for (_ <- 1 to 5) {
      val edges = edgesGen.sample.getOrElse(Nil)
      if (edges.nonEmpty) {
        val parent = scala.collection.mutable.Map[String, String]()
        def find(x: String): String = {
          val p = parent.getOrElseUpdate(x, x)
          if (p == x) x else { val r = find(p); parent(x) = r; r }
        }
        edges.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.Ordering[String].max(ra, rb)) = // min root wins
            math.Ordering[String].min(ra, rb)
        }
        val expected = (edges.flatMap(e => Seq(e._1, e._2)).distinct)
          .map(v => v -> find(v)).toMap
        val xref = edges.toDF("left_id", "right_id")
          .withColumn("judgement", lit("positive"))
          .withColumn("ts", lit(1L))
        val got = Xref.resolverMapping(xref).collect()
          .map(r => r.getString(0) -> r.getString(1)).toMap
        assert(got == expected, s"edges=$edges")
      }
    }
  }

  // r11: the incremental resolver. Over a randomized judgement stream
  // (merges, first appearances, re-judgements incl. positive→negative
  // retractions) the incrementally-maintained mapping must equal the
  // full batch recompute after EVERY batch — and the delta face must
  // reconstruct the same mapping when folded into the previous one.
  test("applyJudgements tracks the full recompute over a randomized judgement stream") {
    import spark.implicits._
    import graft.operators.Xref
    val rnd = new scala.util.Random(11)
    var history = Vector.empty[(String, String, String, Long)]
    var ts = 0L
    def toDf(v: Seq[(String, String, String, Long)]) =
      v.toDF("left_id", "right_id", "judgement", "ts")
    var mapping = Xref.resolverMapping(toDf(history))
    var recomputes = 0
    for (step <- 1 to 12) {
      val batch = (0 until 1 + rnd.nextInt(3)).map { _ =>
        ts += 1
        val a = rnd.nextInt(12)
        val b = (a + 1 + rnd.nextInt(11)) % 12
        val j = if (rnd.nextInt(4) == 0) "negative" else "positive"
        (f"e$a%02d", f"e$b%02d", j, ts)
      }
      history ++= batch
      val all = Xref.latestJudgements(toDf(history))
      // the delta face agrees with the full face: previous mapping
      // overridden by the delta == the incrementally updated mapping
      val delta = Xref.applyJudgementsDelta(mapping, toDf(batch))
      if (delta.isEmpty) recomputes += 1
      val viaDelta = delta.map { d =>
        val dd = d.collect().map(r => r.getString(0) -> r.getString(1))
        mapping.collect().map(r => r.getString(0) -> r.getString(1))
          .filterNot(p => dd.exists(_._1 == p._1)).toMap ++ dd.toMap
      }
      mapping = Xref.applyJudgements(mapping, toDf(batch), all)
        .localCheckpoint()
      val got = mapping.collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      val expect = Xref.resolverMapping(all).collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      assert(got == expect,
        s"step $step: incremental=$got recompute=$expect history=$history")
      viaDelta.foreach(v => assert(v == expect,
        s"step $step: delta-reconstructed=$v recompute=$expect"))
    }
    // most random steps must take the bounded path (seed-pinned)
    assert(recomputes < 12,
      s"expected mostly incremental steps, got $recomputes/12 fallbacks")
    // force the retraction path deterministically: re-judge a pair
    // whose endpoints currently share a canonical as negative — the
    // delta face must refuse (None) and the full face must fall back
    // to the recompute, splitting or keeping per the surviving edges
    val linked = mapping.collect()
      .map(r => r.getString(0) -> r.getString(1))
      .groupBy(_._2).values.find(_.length >= 2).map(_.map(_._1))
    assert(linked.nonEmpty, "stream left no multi-member component")
    val Seq(a, b) = linked.get.sorted.take(2).toSeq
    ts += 1
    val retractBatch = Seq((a, b, "negative", ts))
    history ++= retractBatch
    val all = Xref.latestJudgements(toDf(history))
    assert(Xref.applyJudgementsDelta(mapping, toDf(retractBatch)).isEmpty,
      "a same-component negative must refuse the delta path")
    val got = Xref.applyJudgements(mapping, toDf(retractBatch), all)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val expect = Xref.resolverMapping(all).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == expect, s"retraction step: $got vs $expect")
  }

  // r12: the late-delivery guard. A batch row whose pair the store has
  // already re-judged at a STRICTLY newer ts is stale — applying it
  // as current would diverge the incremental mapping from
  // resolverMapping(latestJudgements): a stale positive would re-merge
  // a retracted pair, a stale negative would force a spurious
  // recompute. Both must be DROPPED before the merge/retraction
  // analysis; ties (the post-append store contains the batch itself)
  // keep the batch row.
  test("late-delivered stale judgements are dropped against a newer store") {
    import spark.implicits._
    import graft.operators.Xref
    def toDf(v: Seq[(String, String, String, Long)]) =
      v.toDF("left_id", "right_id", "judgement", "ts")
    // store state: (a,b) linked@1 then RETRACTED@3; (c,d) linked@2
    val history = Seq(
      ("a", "b", "positive", 1L), ("c", "d", "positive", 2L),
      ("a", "b", "negative", 3L))
    val all = Xref.latestJudgements(toDf(history))
    val mapping = Xref.resolverMapping(all).localCheckpoint()
    val before = mapping.collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(before == Map("c" -> "c", "d" -> "c"),
      s"precondition: retracted pair must be unlinked, got $before")
    // the LATE batch: a stale positive for the retracted pair and a
    // stale negative for the live pair — both older than the store
    val late = Seq(("a", "b", "positive", 2L), ("c", "d", "negative", 1L))
    // delta face: both rows dropped → an EMPTY delta, not a merge of
    // the retracted pair and not a retraction fallback (None)
    val delta = Xref.applyJudgementsDelta(mapping, toDf(late), Some(all))
    assert(delta.nonEmpty, "stale negative must not force a recompute")
    assert(delta.get.count() == 0L, "stale rows must contribute no delta")
    // full face: mapping unchanged, still ≡ the from-scratch recompute
    val got = Xref.applyJudgements(mapping, toDf(late), all)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == before, s"stale batch must be a no-op: $got")
    // tie on ts (replay regime): the batch row survives the guard and
    // the replay is still idempotent — (c,d) positive@2 re-delivered
    val replay = Seq(("c", "d", "positive", 2L))
    val got2 = Xref.applyJudgements(mapping, toDf(replay), all)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got2 == before, s"tied-ts replay must be a no-op: $got2")
  }

  test("minLabelStars == union-find on random graphs (incl. chains)") {
    import spark.implicits._
    import graft.operators.Components
    // random graphs with a bias toward chain fragments (consecutive
    // ids), the shape stars exists for; reference = driver union-find
    val edgesGen = Gen.listOf(Gen.frequency(
      2 -> (for { a <- Gen.choose(0L, 29L); b <- Gen.choose(0L, 29L)
                  if a != b } yield (a, b)),
      1 -> Gen.choose(0L, 28L).map(a => (a, a + 1))))
    for (_ <- 1 to 5) {
      val edges = edgesGen.sample.getOrElse(Nil)
      if (edges.nonEmpty) {
        val parent = scala.collection.mutable.Map[Long, Long]()
        def find(x: Long): Long = {
          val p = parent.getOrElseUpdate(x, x)
          if (p == x) x else { val r = find(p); parent(x) = r; r }
        }
        edges.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        val expected = edges.flatMap(e => Seq(e._1, e._2)).distinct
          .map(v => v -> find(v)).toMap
        val got = Components.minLabelStars(edges.toDF("src", "dst"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got == expected, s"edges=$edges")
      }
    }
  }

  test("asof joinBucketed == join on random data across bucket widths") {
    import spark.implicits._
    import graft.operators.AsofJoin
    // random (key, ts) with deliberate collisions: left ts can equal
    // right ts (inclusive bound), multiple lefts share a ts, rights
    // are unique per (key, ts) per the operator precondition
    val rightGen = Gen.listOf(for {
      k <- Gen.choose(0L, 5L); ts <- Gen.choose(0L, 50L)
    } yield (k, ts)).map(_.distinct)
    val leftGen = Gen.listOf(for {
      k <- Gen.choose(0L, 6L); ts <- Gen.choose(0L, 60L)
      tag <- Gen.choose(0L, 999L)
    } yield (k, ts, tag))
    for (i <- 1 to 3) {
      val rRows = rightGen.sample.getOrElse(Nil)
      val lRows = leftGen.sample.getOrElse(Nil)
      if (rRows.nonEmpty && lRows.nonEmpty) {
        val right = rRows.map { case (k, ts) => (k, ts, s"r$k-$ts") }
          .toDF("k", "ts", "payload")
        val left = lRows.toDF("k", "ts", "tag")
        val plain = AsofJoin.join(left, right, "k", "ts")
        for (width <- Seq(1L, 7L, 1000L)) {
          val bucketed = AsofJoin.joinBucketed(left, right, "k", "ts", width)
          assert(bucketed.exceptAll(plain).isEmpty &&
            plain.exceptAll(bucketed).isEmpty,
            s"width=$width diverges; right=$rRows left=$lRows")
        }
      }
    }
  }

  test("asof joinBucketed matches join on null keys/ts and nano-epoch ts") {
    import spark.implicits._
    import graft.operators.AsofJoin
    // null keys: the plain form's window partitioning groups null keys
    // into ONE partition and matches inside it, so the bucketed twin's
    // boundary-patch join must be null-safe or null-key left rows lose
    // their cross-bucket carries (ADVICE r7). Null ts rides along: it
    // lands in the null bucket, which sorts first — the same position
    // null ts takes in the plain per-key sort.
    val right = Seq(
      (Option(0L), Option(10L), "a"),
      (Option.empty[Long], Option(5L), "n1"),
      (Option.empty[Long], Option(20L), "n2"),
      (Option.empty[Long], Option.empty[Long], "nn")
    ).toDF("k", "ts", "payload")
    val left = Seq(
      (Option(0L), Option(11L), 1L),
      (Option.empty[Long], Option(25L), 2L),
      (Option.empty[Long], Option(7L), 3L),
      (Option(7L), Option(11L), 4L),
      (Option.empty[Long], Option.empty[Long], 5L)
    ).toDF("k", "ts", "tag")
    val plain = AsofJoin.join(left, right, "k", "ts")
    // ground truth: tag 1 → "a"; tag 2 → "n2"; tag 3 → "n1"; tag 4
    // drops (no key-7 right row); tag 5 → "nn" (null ts sorts first,
    // right side 0 before left side 1)
    assert(plain.select("tag", "r_payload").as[(Long, String)].collect()
      .toMap == Map(1L -> "a", 2L -> "n2", 3L -> "n1", 5L -> "nn"))
    for (width <- Seq(1L, 7L, 1000L)) {
      val bucketed = AsofJoin.joinBucketed(left, right, "k", "ts", width)
      assert(bucketed.exceptAll(plain).isEmpty &&
        plain.exceptAll(bucketed).isEmpty, s"width=$width diverges on nulls")
    }
    // nanosecond-epoch magnitudes (past 2^53): bucket ids must come
    // from exact integer division — double division merges adjacent
    // buckets up there (ADVICE r7). Parity at hour-width buckets.
    val base = 1700000000000000000L
    val hour = 3600000000000L
    val bigRight = (0 until 10).map(i => (0L, base + i * hour, s"h$i"))
      .toDF("k", "ts", "payload")
    val bigLeft = (0 until 10).map(i => (0L, base + i * hour + hour / 2, i.toLong))
      .toDF("k", "ts", "tag")
    val bigPlain = AsofJoin.join(bigLeft, bigRight, "k", "ts")
    assert(bigPlain.select("tag", "r_payload").as[(Long, String)].collect()
      .toMap == (0 until 10).map(i => i.toLong -> s"h$i").toMap)
    val bigBucketed =
      AsofJoin.joinBucketed(bigLeft, bigRight, "k", "ts", hour)
    assert(bigBucketed.exceptAll(bigPlain).isEmpty &&
      bigPlain.exceptAll(bigBucketed).isEmpty, "nano-epoch parity")
    // Long.MinValue/MaxValue sentinels ("unknown time"): the
    // (t − pmod) floor-division form underflows LONG here — ANSI mode
    // throws, non-ANSI silently mis-buckets — so bucketOf must stay
    // exact at the extremes (r8 review). Widths chosen to not divide
    // 2^63 so the remainder correction actually fires.
    val extRight = Seq((0L, Long.MinValue, "sentinel"),
      (0L, -3L, "neg"), (0L, 5L, "pos"), (0L, Long.MaxValue - 1, "top"))
      .toDF("k", "ts", "payload")
    val extLeft = Seq((0L, Long.MinValue + 1, 1L), (0L, -1L, 2L),
      (0L, 6L, 3L), (0L, Long.MaxValue, 4L)).toDF("k", "ts", "tag")
    val extPlain = AsofJoin.join(extLeft, extRight, "k", "ts")
    for (width <- Seq(3L, 7L, 1000000007L)) {
      val extBucketed =
        AsofJoin.joinBucketed(extLeft, extRight, "k", "ts", width)
      assert(extBucketed.exceptAll(extPlain).isEmpty &&
        extPlain.exceptAll(extBucketed).isEmpty,
        s"width=$width diverges at Long.MinValue/MaxValue ts")
    }
  }

  test("exact dedup partitions docs by normalized text (one batched job)") {
    import spark.implicits._
    val texts = Gen.listOfN(100, Gen.oneOf(
      "a b", "a  b", " a b ", "c", "c ", "d e f")).sample.get
    val df = texts.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val rows = Dedup.exact(df).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    // same hash ⇔ same canonical; canonical is the min doc_id of the group
    rows.groupBy(_._3).foreach { case (_, g) =>
      assert(g.map(_._2).distinct.length == 1)
      assert(g.map(_._2).head == g.map(_._1).min)
    }
  }

  test("t9 chunking reconstructs the token stream on random docs (one batched job)") {
    import spark.implicits._
    val texts = Gen.listOfN(120, textGen).sample.get
    val df = texts.zipWithIndex
      .map { case (t, i) => (i.toLong, t, "s") }
      .toDF("doc_id", "text", "source")
    // stride == chunkTokens → zero overlap, so per-doc chunk concat in
    // chunk_idx order must equal the tokenization exactly
    val out = graft.operators.TextAnalysis
      .chunk(df, chunkTokens = 5, stride = 5)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
      .groupBy(_._1)
    texts.zipWithIndex.foreach { case (t, i) =>
      val want = t.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
      val chunks = out.getOrElse(i.toLong, Array.empty).sortBy(_._2)
      val got = chunks.flatMap(_._3.split(" ").filter(_.nonEmpty)).toSeq
      assert(got == want, s"doc $i: reconstruction mismatch")
      // every chunk except possibly the last is full; token counts add up
      chunks.dropRight(1).foreach(c => assert(c._4 == 5L))
      assert(chunks.map(_._4).sum == want.length)
    }
  }

  test("d8 keep-best: one keeper per cluster, keeper maximal (one batched job)") {
    import spark.implicits._
    // duplicate-heavy corpus: few distinct texts at random paddings so
    // LSH forms multi-doc clusters with length variety
    val base = Seq("one two three four five six",
      "alpha beta gamma delta epsilon zeta",
      "red green blue cyan magenta yellow")
    val docsGen = Gen.listOfN(60, for {
      b <- Gen.oneOf(base)
      pad <- Gen.choose(0, 3)
    } yield b + (" pad" * pad))
    val texts = docsGen.sample.get
    val df = texts.zipWithIndex
      .map { case (t, i) => (i.toLong, t, "s") }
      .toDF("doc_id", "text", "source")
    val rows = graft.operators.Dedup
      .keepBest(df, Dedup.nearDupClusters(df)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    rows.groupBy(_._2).foreach { case (_, cluster) =>
      val keepers = cluster.filter(_._4)
      assert(keepers.length == 1, "exactly one keeper per cluster")
      val k = keepers.head
      // keeper is maximal by (n_chars, -doc_id): no member is longer,
      // and among equal lengths the keeper has the smallest id
      assert(cluster.forall(m => m._3 < k._3 ||
        (m._3 == k._3 && m._1 >= k._1)))
    }
    // retention never loses a doc: every input row appears exactly once
    assert(rows.map(_._1).sorted.toSeq == texts.indices.map(_.toLong))
  }

  test("codecs: WAV and BMP round-trips are exact on arbitrary payloads") {
    import graft.operators.Codecs
    val samplesGen = Gen.listOf(
      Gen.chooseNum(Short.MinValue, Short.MaxValue)).map(_.map(_.toShort))
    check(Prop.forAll(samplesGen) { ss =>
      val arr = ss.toArray
      Codecs.wavPcm16(Codecs.wavPcm16Encode(arr)).toSeq ==
        arr.map(_ / 32768.0f).toSeq
    }, minTests = 60)
    val bmpGen = for {
      w <- Gen.chooseNum(1, 9)
      h <- Gen.chooseNum(1, 9)
      px <- Gen.listOfN(w * h, Gen.chooseNum(0, 0xffffff))
    } yield (w, h, px.toArray)
    check(Prop.forAll(bmpGen) { case (w, h, px) =>
      // raw channels survive every width (padded and unpadded rows),
      // top-down order restored across the bottom-up storage
      Codecs.bmpChannels(Codecs.bmp24Encode(w, h, px)).toSeq ==
        px.flatMap(p => Seq(((p >> 16) & 0xff).toFloat,
          ((p >> 8) & 0xff).toFloat, (p & 0xff).toFloat)).toSeq
    }, minTests = 60)
  }

  test("sorted_contains == linear membership on arbitrary sorted arrays") {
    import graft.functions.SortedContainsExpression
    import org.apache.spark.sql.catalyst.util.ArrayData
    val arrGen = Gen.listOf(Gen.chooseNum(Long.MinValue, Long.MaxValue))
      .map(_.sorted.toArray)
    check(Prop.forAll(arrGen, Gen.chooseNum(Long.MinValue, Long.MaxValue)) {
      (a, probeSalt) =>
        val data = ArrayData.toArrayData(a)
        // probe both a certain member (when nonempty) and an arbitrary
        // value whose membership the linear scan decides
        val memberOk = a.isEmpty ||
          SortedContainsExpression.contains(a(a.length / 2), data)
        val v = probeSalt
        memberOk &&
          SortedContainsExpression.contains(v, data) == a.contains(v)
    })
  }

  test("sequence packing manifest tiles every stratum exactly (random data)") {
    import graft.operators.Sampling
    import spark.implicits._
    val rows = Gen.listOfN(400, for {
      id <- Gen.chooseNum(0L, 100000L)
      st <- Gen.oneOf("a", "b", "c")
      n <- Gen.chooseNum(0L, 300L)
    } yield (id, st, n)).sample.get
      .groupBy(_._1).map(_._2.head).toSeq // unique ids
    val df = rows.toDF("doc_id", "source", "n_tokens")
    val out = Sampling.sequencePack(df, "source", "doc_id",
      col("n_tokens"), seqTokens = 128)
      .collect()
      .map(r => (r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))
    // (source, n_tokens, cum, start, first_seq, last_seq, offset)
    out.groupBy(_._1).foreach { case (_, g) =>
      val sorted = g.sortBy(_._4)
      // contiguous tiling: each doc starts where the previous ended
      sorted.zip(sorted.drop(1)).foreach { case (a, b) =>
        assert(a._3 == b._4, s"gap: ${a._3} != ${b._4}")
      }
      assert(sorted.head._4 == 0L)
      sorted.foreach { d =>
        assert(d._3 == d._4 + d._2)
        assert(d._5 == d._4 / 128 && d._6 == (d._3 - 1) / 128)
        assert(d._7 == d._4 % 128 && d._7 >= 0 && d._7 < 128)
      }
    }
    // zero-token docs are dropped, everything else packs exactly once
    assert(out.length == rows.count(_._3 > 0))
  }

  test("t13 gopher verdicts == a pure-Scala rule model on random docs (one batched job)") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    // mix stopwords in so r_stopwords can pass; vary word lengths so
    // the word-len band has both sides; occasional repeats drive the
    // repetition rule; blank/empty docs exercise the zero guards
    val stops = TextAnalysis.stopwords.flatMap(_._2)
    val word: Gen[String] = Gen.frequency(
      3 -> Gen.oneOf(stops),
      5 -> Gen.choose(1, 8).flatMap(n =>
        Gen.listOfN(n, Gen.alphaLowerChar).map(_.mkString)),
      1 -> Gen.const("ab!de"))
    val docGen: Gen[String] = Gen.frequency(
      10 -> Gen.choose(0, 120).flatMap(n =>
        Gen.listOfN(n, word).map(_.mkString(" "))),
      1 -> Gen.const(""), 1 -> Gen.const("   "))
    val texts = Gen.listOfN(300, docGen).sample.get
    val df = texts.zipWithIndex
      .map { case (t, i) => (i.toLong, t, "s") }
      .toDF("doc_id", "text", "source")
    val got = TextAnalysis.gopherFilter(df).collect()
      .map(r => r.getLong(0) -> r).toMap
    texts.zipWithIndex.foreach { case (t, i) =>
      val ws = t.toLowerCase.split("\\s+").filter(_.nonEmpty)
      val nChars = t.length.toLong
      val nWords = ws.length.toLong
      val nPunct = t.count(c => !(('a' to 'z').contains(c) ||
        ('0' to '9').contains(c) || c == ' ')).toLong
      val stopHits = ws.count(stops.contains).toLong
      val charSum = ws.map(_.length.toLong).sum
      val grams = if (ws.length >= 2) ws.sliding(2).map(_.mkString(" ")).toSeq
        else Seq.empty
      val nGrams = grams.length.toLong
      val nDup = nGrams - grams.distinct.length.toLong
      val rules = Seq(
        nWords >= 20 && nWords <= 90,
        charSum >= nWords * 4 && charSum <= nWords * 5,
        nPunct * 10 <= nChars,
        stopHits >= 2,
        nDup * 20 <= nGrams)
      val r = got(i.toLong)
      assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5)) == ((nWords, charSum, stopHits, nGrams, nDup)),
        s"metrics mismatch on doc $i: '$t'")
      rules.zipWithIndex.foreach { case (want, k) =>
        assert(r.getBoolean(6 + k) == want,
          s"rule $k mismatch on doc $i: '$t'")
      }
      assert(r.getBoolean(11) == rules.forall(identity))
      assert(r.getLong(12) == rules.count(!_).toLong)
    }
  }
  // r14 graph operators on randomized small graphs: each against an
  // r15: the incremental census must equal the from-scratch census
  // after EVERY append in a randomized chain — the f20b
  // incremental≡batch discipline applied to the triangle support
  // table. Also gates replay immunity (re-appending a seen batch is
  // the identity) and multi-new-edge triangles (batches overlap).
  test("r15 delta census chain == full census after every batch") {
    import spark.implicits._
    import graft.operators.Triangles
    val rnd = new scala.util.Random(47)
    def supMap(df: org.apache.spark.sql.DataFrame): Map[(String, String), Long] =
      df.collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
        .filter(_._2 > 0).toMap
    for (trial <- 1 to 12) {
      val n = 5 + rnd.nextInt(8)
      def randBatch(m: Int) = Seq.fill(m)(
        (s"v${rnd.nextInt(n)}", s"v${rnd.nextInt(n)}"))
      var accum = randBatch(4 + rnd.nextInt(8))
      var accumDf = accum.toDF("src", "dst")
      var support = Triangles.perEdge(accumDf)
      for (step <- 1 to 3) {
        val batch = randBatch(2 + rnd.nextInt(6))
        val batchDf = batch.toDF("src", "dst")
        val updated = Triangles.perEdgeDelta(accumDf, support, batchDf)
        val allDf = (accum ++ batch).toDF("src", "dst")
        val want = supMap(Triangles.perEdge(allDf))
        assert(supMap(updated) == want,
          s"trial $trial step $step: delta ${supMap(updated)} != full $want")
        // replay: re-appending the same batch must be the identity
        val replay = Triangles.perEdgeDelta(allDf, updated, batchDf)
        assert(supMap(replay) == want,
          s"trial $trial step $step: replay moved the support table")
        accum = accum ++ batch
        accumDf = allDf
        support = replay
      }
    }
  }

  // r15 continuation: the incremental k-core must equal the full peel
  // after EVERY append in a randomized chain (the census-delta
  // discipline at node grain), including in-core DEGREES; plus replay
  // identity and the region-cap fallback path.
  test("r15 delta kcore chain == full peel after every batch") {
    import spark.implicits._
    import graft.operators.KCore
    val rnd = new scala.util.Random(53)
    def coreMap(df: org.apache.spark.sql.DataFrame): Map[String, Long] =
      df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    for (trial <- 1 to 12) {
      val n = 5 + rnd.nextInt(9)
      val k = 2L + rnd.nextInt(2) // k in {2, 3}
      def randBatch(m: Int) = Seq.fill(m)(
        (s"v${rnd.nextInt(n)}", s"v${rnd.nextInt(n)}"))
      var accum = randBatch(4 + rnd.nextInt(8))
      var accumDf = accum.toDF("src", "dst")
      // results are CONSUMED to maps before the next delta call: the
      // slotted convenience face owns exactly one result generation
      // (the Triangles discipline), so a held frame must not outlive
      // the next call
      var core = coreMap(KCore.membership(accumDf, k, rounds = 50))
      def coreDf(m: Map[String, Long]) = m.toSeq.toDF("node", "d")
      for (step <- 1 to 3) {
        val batch = randBatch(2 + rnd.nextInt(6))
        val batchDf = batch.toDF("src", "dst")
        val updated = coreMap(
          KCore.membershipDelta(accumDf, coreDf(core), batchDf, k))
        val allDf = (accum ++ batch).toDF("src", "dst")
        val want = coreMap(KCore.membership(allDf, k, rounds = 50))
        assert(updated == want,
          s"trial $trial step $step k=$k: delta $updated != full $want")
        // replay: re-appending the same batch must be the identity
        val replay = coreMap(
          KCore.membershipDelta(allDf, coreDf(updated), batchDf, k))
        assert(replay == want,
          s"trial $trial step $step k=$k: replay moved the membership")
        // region-cap fallback must agree too (maxRegion = 1 forces it
        // whenever any candidate exists)
        val viaFallback = coreMap(KCore.membershipDelta(
          accumDf, coreDf(core), batchDf, k, maxRegion = 1L))
        assert(viaFallback == want,
          s"trial $trial step $step k=$k: fallback path diverged")
        accum = accum ++ batch
        accumDf = allDf
        core = replay
      }
    }
  }

  // independent driver-side model (not the operator's own machinery)
  test("r14 graph trio == driver models on random graphs") {
    import spark.implicits._
    import graft.operators.{KCore, LabelProp, PageRank, Triangles}
    val rnd = new scala.util.Random(31)
    for (trial <- 1 to 25) {
      val n = 4 + rnd.nextInt(9) // 4..12 nodes
      val m = 3 + rnd.nextInt(23)
      val edges = Seq.fill(m)((s"v${rnd.nextInt(n)}", s"v${rnd.nextInt(n)}"))
      val canon = edges.map { case (a, b) => if (a < b) (a, b) else (b, a) }
        .filter { case (a, b) => a != b }.distinct
      if (canon.nonEmpty) {
        val df = edges.toDF("src", "dst")
        val adj = (canon ++ canon.map(_.swap)).groupBy(_._1).view
          .mapValues(_.map(_._2).toSet).toMap
          .withDefaultValue(Set.empty[String])

        // per-edge triangle support: |N(a) ∩ N(b)| per canonical edge
        val wantSup = canon.map { case (a, b) =>
          (a, b) -> (adj(a) intersect adj(b)).size.toLong
        }.filter(_._2 > 0).toMap
        val gotSup = Triangles.perEdge(df).collect()
          .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
        assert(gotSup == wantSup, s"trial $trial perEdge: $gotSup != $wantSup")

        // k-core (k = 2): iterate the driver peel to its fixed point
        var es = canon.toSet
        var changed = true
        while (changed) {
          val deg = es.toSeq.flatMap { case (a, b) => Seq(a, b) }
            .groupBy(identity).view.mapValues(_.size).toMap
          val nx = es.filter { case (a, b) => deg(a) >= 2 && deg(b) >= 2 }
          changed = nx != es; es = nx
        }
        val wantCore = es.toSeq.flatMap { case (a, b) => Seq(a, b) }
          .groupBy(identity).view.mapValues(_.size.toLong).toMap
        val gotCore = KCore.membership(df, k = 2L, rounds = 20).collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        assert(gotCore == wantCore, s"trial $trial kcore: $gotCore != $wantCore")

        // min-label propagation at rounds ≥ diameter: component minima
        // via a driver union-find
        val parent = scala.collection.mutable.Map[String, String]()
        def find(x: String): String = {
          val p = parent.getOrElseUpdate(x, x)
          if (p == x) x else { val r = find(p); parent(x) = r; r }
        }
        canon.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.Ordering.String.max(ra, rb)) =
            math.Ordering.String.min(ra, rb)
        }
        val nodes = canon.flatMap { case (a, b) => Seq(a, b) }.distinct
        val wantLab = nodes.map(v => v -> find(v)).toMap
        // loop-free canonical edges, like f28's truss feed (LabelProp
        // keeps a self-loop-only node labeled itself — documented)
        val gotLab = LabelProp
          .minLabelRounds(canon.toDF("src", "dst"), rounds = 15).collect()
          .map(r => r.getString(0) -> r.getString(1)).toMap
        assert(gotLab == wantLab, s"trial $trial labels: $gotLab != $wantLab")

        // personalized pagerank vs the literal driver recurrence on a
        // random seed set (directed raw edges, dedup like the operator)
        val dirEdges = edges.filter { case (a, b) => a != b }.distinct
        if (dirEdges.nonEmpty) {
          val seedSet = nodes.take(1 + rnd.nextInt(3)).toSet
          val deg = dirEdges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
          val vs = dirEdges.flatMap { case (a, b) => Seq(a, b) }.distinct
          var r = vs.map(v => v -> (if (seedSet(v)) 1000000L else 0L)).toMap
          for (_ <- 1 to 5) {
            val in = dirEdges.groupBy(_._2).view.mapValues(_.map { case (u, _) =>
              (85L * r(u)) / (100L * deg(u)) }.sum).toMap
            r = vs.map(v => v -> ((if (seedSet(v)) 150000L else 0L) +
              in.getOrElse(v, 0L))).toMap
          }
          val got = PageRank.personalizedRanks(dirEdges.toDF("src", "dst"),
              seedSet.toSeq.toDF("id"), iters = 5)
            .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
          assert(got == r, s"trial $trial ppr: $got != $r")
        }
      }
    }
  }
}
