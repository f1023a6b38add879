package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.scalatest.funsuite.AnyFunSuite

object SparkTestSession {
  lazy val spark: SparkSession = GraftSession.local(4)
  val sf: String = "/root/testdata/sf0.001"

  /** Ids of the RDDs persisted on the session's context now. The
    * ContextCleaner unpersists earlier garbage asynchronously, so this
    * set can shrink at any moment: custody specs assert on the ids a
    * call adds or releases (set differences), never on its size.
    */
  def persistedIds(): Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Ids of the checkpoints a frame reads: its plan's LogicalRDD leaves. */
  def checkpointIds(df: DataFrame): Set[Int] =
    df.queryExecution.logical.collectLeaves()
      .collect { case l: LogicalRDD => l.rdd.id }.toSet
}

class QueriesSpec extends AnyFunSuite {
  import SparkTestSession._

  test("every query key has matching registry coverage and runs") {
    assert(SparkEntry.queries.nonEmpty)
    // every oracle key must exist in the registry
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("f24 name editdist: banded gate, sim bounds, driver-reference distances") {
    val rows = SparkEntry.queries("f24_name_editdist")(spark, sf).collect()
    assert(rows.nonEmpty)
    // the banded levenshtein gate and the normalized-similarity bounds
    assert(rows.forall(r => r.getLong(2) >= 0L && r.getLong(2) <= 16L))
    assert(rows.forall(r => r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0))
    assert(rows.exists(_.getLong(2) == 0L), "blocked twins share names")
    assert(rows.filter(_.getLong(2) == 0L).forall(_.getDouble(3) == 1.0))
    // distances agree with a driver-side classic-DP reference on the
    // joined names (sampled)
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
        if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    import org.apache.spark.sql.functions.{col, min => smin}
    val names = Queries.statements(spark, sf)
      .filter(col("prop_type") === "name")
      .groupBy(col("entity_id")).agg(smin(col("value")).as("name"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    rows.take(50).foreach { r =>
      val want = lev(names(r.getString(1)), names(r.getString(0)))
      assert(r.getLong(2) == want.toLong,
        s"${r.getString(1)} vs ${r.getString(0)}: ${r.getLong(2)} != $want")
    }
  }

  test("q1_agg returns the 6 (returnflag, linestatus) groups") {
    val df = SparkEntry.queries("q1_agg")(spark, sf)
    val rows = df.collect()
    assert(rows.length == 6)
    val flags = rows.map(r => (r.getString(0), r.getString(1))).toSet
    assert(flags.contains(("A", "F")) && flags.contains(("N", "O")))
  }

  test("entry smoke: rows > 0") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("q16b approx percentiles land within 2% of the exact quantiles") {
    def byFlag(key: String): Map[String, Seq[Double]] =
      SparkEntry.queries(key)(spark, sf).collect()
        .map(r => r.getString(0) -> Seq(r.getDouble(1), r.getDouble(2), r.getDouble(3)))
        .toMap
    val exact = byFlag("q16_percentile")
    val approx = byFlag("q16b_percentile_approx")
    assert(exact.keySet == approx.keySet)
    for ((flag, es) <- exact; (e, a) <- es.zip(approx(flag)))
      assert(math.abs(a - e) / e <= 0.02,
        s"$flag: approx $a vs exact $e drifts ${math.abs(a - e) / e}")
  }

  test("asof join: inclusive bound, latest-prior match, unmatched drop") {
    import spark.implicits._
    import graft.operators.AsofJoin
    val right = Seq((1L, 10L, "r10"), (1L, 20L, "r20"), (2L, 5L, "r5"))
      .toDF("k", "ts", "payload")
    val left = Seq(
      (1L, 20L, "exact-tie"),  // ts == right ts → inclusive, matches r20
      (1L, 15L, "between"),    // matches r10, not r20
      (1L, 9L, "early"),       // before all right rows → dropped
      (2L, 100L, "far-after"), // matches r5
      (3L, 50L, "no-key"))     // key absent on right → dropped
      .toDF("k", "ts", "tag")
    val out = AsofJoin.join(left, right, "k", "ts")
      .collect().map(r => r.getAs[String]("tag") ->
        (r.getAs[Long]("r_ts"), r.getAs[String]("r_payload"))).toMap
    assert(out == Map(
      "exact-tie" -> (20L, "r20"),
      "between" -> (10L, "r10"),
      "far-after" -> (5L, "r5")))
  }

  test("asof joinBucketed == join: hot key + bucket-boundary cases") {
    import spark.implicits._
    import graft.operators.AsofJoin
    // one hot key with a long dense history (the case the bucketed
    // form exists for), a key whose matches all cross bucket
    // boundaries, a key with no rights, plus exact-tie rows — at a
    // bucket width (7) deliberately misaligned with the data
    val right = ((1 to 400).map(i => (1L, i * 3L, s"r$i")) ++
      Seq((2L, 2L, "early2")) :+ ((4L, 50L, "only4"))).toDF("k", "ts", "payload")
    val left = ((1 to 300).map(i => (1L, i * 4L, s"l$i")) ++
      Seq((2L, 1000L, "far"), (2L, 1L, "before"), (3L, 9L, "nokey"),
        (4L, 50L, "tie"))).toDF("k", "ts", "tag")
    for (width <- Seq(7L, 1L, 100000L)) {
      val plain = AsofJoin.join(left, right, "k", "ts")
      val bucketed = AsofJoin.joinBucketed(left, right, "k", "ts", width)
      assert(bucketed.exceptAll(plain).isEmpty &&
        plain.exceptAll(bucketed).isEmpty,
        s"bucketed (width=$width) diverges from plain as-of")
    }
  }

  test("asof join: payload-shape preconditions are validated") {
    import spark.implicits._
    import graft.operators.AsofJoin
    val right = Seq((1L, 10L, "r")).toDF("k", "ts", "payload")
    // zero left payload columns
    val bare = Seq((1L, 20L)).toDF("k", "ts")
    assertThrows[IllegalArgumentException] {
      AsofJoin.join(bare, right, "k", "ts")
    }
    // left column colliding with a prefixed right output name
    val colliding = Seq((1L, 20L, "x")).toDF("k", "ts", "r_payload")
    assertThrows[IllegalArgumentException] {
      AsofJoin.join(colliding, right, "k", "ts")
    }
  }

  test("interval join: half-open containment, bin-width independence, " +
    "pair uniqueness") {
    import spark.implicits._
    import graft.operators.IntervalJoin
    val intervals = Seq(
      (1L, 10L, 20L, "a"),     // [10, 20)
      (1L, 15L, 40L, "b"),     // overlaps a, spans bins at small widths
      (1L, 30L, 30L, "empty"), // end == start → empty half-open, drops
      (2L, 0L, 100L, "c"))     // other key, long interval
      .toDF("k", "s", "e", "tag")
    val points = Seq(
      (1L, 10L, "at-start"),  // start inclusive → a
      (1L, 19L, "in-both"),   // a AND b — two output rows
      (1L, 20L, "at-end"),    // end exclusive → b only
      (1L, 39L, "tail"),      // b only
      (1L, 40L, "past"),      // no window
      (2L, 50L, "other-key"), // c
      (3L, 15L, "no-key"))    // key absent on intervals → drops
      .toDF("k", "ts", "tag")
    val want = Seq("at-start" -> "a", "in-both" -> "a", "in-both" -> "b",
      "at-end" -> "b", "tail" -> "b", "other-key" -> "c").sorted
    // answers must not depend on the bin width — including widths far
    // smaller (interval replicated across many bins) and far larger
    // (everything in one bin) than the data's span; the sorted-seq
    // compare also proves each qualifying pair appears exactly ONCE
    for (w <- Seq(1L, 7L, 1000L)) {
      val got = IntervalJoin.join(points, "ts", intervals, "s", "e", "k", w)
        .select($"tag", $"i_tag").as[(String, String)].collect().toSeq.sorted
      assert(got == want, s"binWidth=$w")
    }
    // collision precondition: a point column shadowing a prefixed
    // interval output name must refuse loudly
    val colliding = points.withColumnRenamed("tag", "i_tag")
    assertThrows[IllegalArgumentException] {
      IntervalJoin.join(colliding, "ts", intervals, "s", "e", "k", 7L)
    }
    // reserved-working-column precondition: an input already carrying
    // __bin (or __rk/__rbin/__ik) would be silently overwritten —
    // both joins must refuse loudly instead
    assertThrows[IllegalArgumentException] {
      IntervalJoin.join(points.withColumn("__bin", $"ts"),
        "ts", intervals, "s", "e", "k", 7L)
    }
    assertThrows[IllegalArgumentException] {
      IntervalJoin.join(points, "ts",
        intervals.withColumn("__ik", $"k"), "s", "e", "k", 7L)
    }
    assertThrows[IllegalArgumentException] {
      IntervalJoin.overlap(intervals.withColumn("__rbin", $"s"),
        "s", "e", intervals, "s", "e", "k", 7L)
    }
    // one hot key over timestamps: views every 60 s open 30-minute
    // windows, points land every 45 s — each point sits in ~30
    // overlapping windows, and the binned join must return exactly the
    // naive equi+range join's pairs
    import org.apache.spark.sql.functions.{col, lit, timestamp_seconds}
    val hotViews = spark.range(400).select(col("id").as("imp_id"),
      lit(0L).as("user_id"),
      timestamp_seconds(col("id") * 60L).as("win_start"),
      timestamp_seconds(col("id") * 60L + 1800L).as("win_end"))
    val hotPts = spark.range(400).select(col("id").as("event_id"),
      lit(0L).as("user_id"), timestamp_seconds(col("id") * 45L).as("ts"))
    val naive = hotPts.join(hotViews,
        hotPts("user_id") === hotViews("user_id") &&
          $"ts" >= $"win_start" && $"ts" < $"win_end")
      .select($"event_id", $"imp_id").as[(Long, Long)].collect().toSeq.sorted
    val binned = IntervalJoin.join(hotPts, "ts", hotViews,
        "win_start", "win_end", "user_id", binWidth = 1800L)
      .select($"event_id", $"i_imp_id").as[(Long, Long)].collect().toSeq.sorted
    assert(naive.length > 400 * 20 && binned == naive)
  }

  test("overlap join: half-open intersection, bin-width independence, " +
    "exactly-once pairing") {
    import spark.implicits._
    import graft.operators.IntervalJoin
    val left = Seq(
      (1L, 0L, 10L, "A"),    // [0,10)
      (1L, 10L, 20L, "B"),   // [10,20) — touches A only at the open end
      (1L, 5L, 50L, "C"),    // long: overlaps many bins
      (2L, 0L, 100L, "D"))
      .toDF("k", "s", "e", "ltag")
    val right = Seq(
      (1L, 9L, 11L, "x"),   // overlaps A ([9,10)) and B ([10,11))
      (1L, 10L, 10L, "y"),  // empty → drops
      (1L, 20L, 30L, "z"),  // overlaps C only (B ends at 20, exclusive)
      (2L, 99L, 200L, "w"), // tail overlap with D
      (3L, 0L, 100L, "q"))  // no key
      .toDF("k", "s", "e", "rtag")
    val want = Seq("A" -> "x", "B" -> "x", "C" -> "x", "C" -> "z",
      "D" -> "w").sorted
    for (w <- Seq(1L, 7L, 1000L)) {
      val got = IntervalJoin.overlap(left, "s", "e", right, "s", "e",
          "k", w)
        .select($"ltag", $"r_rtag").as[(String, String)]
        .collect().toSeq.sorted
      assert(got == want, s"binWidth=$w")
    }
  }

  test("q24b overlap join: bounds are a genuine intersection") {
    import org.apache.spark.sql.functions.col
    val out = Queries.q24bOverlapJoin(spark, sf)
    assert(out.count() > 0)
    assert(out.filter(col("ov_start_us") >= col("ov_end_us")).count() == 0,
      "every emitted pair must have a non-empty half-open intersection")
    assert(out.select("imp_id", "err_id").distinct().count() == out.count())
  }

  test("q24 interval join: every gap inside the half-open 2h window") {
    import org.apache.spark.sql.functions.col
    val out = Queries.q24IntervalJoin(spark, sf)
    assert(out.count() > 0)
    assert(out.filter(col("gap_us") < 0L ||
      col("gap_us") >= 7200L * 1000000L).count() == 0)
    // pair uniqueness at the registry face too
    assert(out.select("event_id", "imp_id").distinct().count() ==
      out.count())
  }

  test("f21 final-as-of: cutoff respected, late-born keys absent, " +
    "max-cutoff equals plain FINAL") {
    import spark.implicits._
    val out = Queries.f21FinalAsof(spark, sf)
    assert(out.count() > 0)
    // every served row's version is at or before the cutoff
    val orders = Tables.load(spark, sf, "orders")
    val late = orders
      .filter($"o_orderdate" > org.apache.spark.sql.functions.lit(
        "1997-06-30").cast("timestamp"))
      .select($"o_orderkey").as[Long].collect().toSet
    assert(out.select($"o_orderkey").as[Long].collect()
      .forall(!late.contains(_)), "a post-cutoff version leaked")
    // a key whose history starts only after the cutoff must be absent
    val allKeys = orders.select($"o_custkey").distinct().count()
    assert(out.count() < allKeys || {
      // (possible only if every key has a pre-cutoff row)
      orders.groupBy($"o_custkey")
        .agg(org.apache.spark.sql.functions.min($"o_orderdate").as("m"))
        .filter($"m" > org.apache.spark.sql.functions.lit(
          "1997-06-30").cast("timestamp")).count() == 0
    })
    // cutoff at/after max version degenerates to f3's plain FINAL
    val f3 = Queries.f3ReplacingMerge(spark, sf)
    val atMax = graft.operators.ReplacingMerge.latestByKey(
      orders.filter($"o_orderdate" <= org.apache.spark.sql.functions
        .lit("2999-01-01").cast("timestamp")),
      keys = Seq($"o_custkey"),
      version = Seq($"o_orderdate", $"o_orderkey"))
      .select($"o_custkey", $"o_orderkey", $"o_totalprice")
    assert(atMax.exceptAll(f3).isEmpty && f3.exceptAll(atMax).isEmpty)
  }

  test("q20 asof: every match is the same user's latest prior click") {
    val out = Queries.q20AsofJoin(spark, sf)
    assert(out.count() > 0)
    // no violated bound, one row per purchase
    assert(out.filter(org.apache.spark.sql.functions.col("click_sec") >
      org.apache.spark.sql.functions.col("purchase_sec")).count() == 0)
    assert(out.select("purchase_id").distinct().count() == out.count())
  }

  test("q21 pivot: cells match the filtered aggregate, one shuffle") {
    import org.apache.spark.sql.functions._
    val out = Queries.q21Pivot(spark, sf)
    // a pivot cell must equal the corresponding filtered group sum
    val orders = Tables.load(spark, sf, "orders")
    val expect = orders
      .filter(col("o_orderstatus") === "F")
      .groupBy(year(col("o_orderdate")).cast("bigint").as("o_year"))
      .agg((sum(round(col("o_totalprice") * 100).cast("long")) / 100.0)
        .as("f_total"))
    // FULL outer + null-SAFE compare: an inner join with =!= would
    // silently pass a regression that nulls or drops a populated cell
    // (null =!= x is null → filtered out) — r8 review
    val joined = out.select("o_year", "f_total")
      .join(expect.withColumnRenamed("f_total", "want"), Seq("o_year"),
        "full_outer")
    assert(joined.filter(!(col("f_total") <=> col("want"))).count() == 0)
    // explicit-values pivot = ONE aggregate exchange, no collect job
    val exchanges = out.queryExecution.executedPlan.toString
      .linesIterator.count(_.contains("Exchange"))
    assert(exchanges <= 1, s"pivot must stay a single-shuffle aggregate")
  }

  test("q22 grouping sets: three grains, flags disambiguate, sums agree") {
    import org.apache.spark.sql.functions._
    val out = Queries.q22GroupingSets(spark, sf).cache()
    try {
      val orders = Tables.load(spark, sf, "orders")
      // exactly the three requested grains, nothing else (no grand
      // total — this is what rollup/cube could NOT state)
      val grains = out.select("g_status", "g_priority").distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(grains == Set((0L, 0L), (0L, 1L), (1L, 0L)))
      // the (status) grain must equal a direct groupBy — counts and
      // cent-exact sums
      val got = out.filter(col("g_priority") === 1)
        .select(col("o_orderstatus"), col("n"), col("total"))
      val want = orders.groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("want_n"),
          (sum(round(col("o_totalprice") * 100).cast("long")) / 100.0)
            .as("want_total"))
      val joined = got.join(want, Seq("o_orderstatus"), "full_outer")
      assert(joined.filter(!(col("n") <=> col("want_n")) ||
        !(col("total") <=> col("want_total"))).count() == 0)
    } finally { out.unpersist(); () }
  }

  // r11: f20b's oracle proves incremental ≡ batch only if the
  // incremental path actually runs — assert the held-out batch is
  // non-empty at the test SF (otherwise applyJudgements degenerates
  // to returning the prior mapping) and that the fold equals a full
  // recompute row-for-row.
  test("f20b: the held-out batch is non-empty and the fold equals recompute") {
    import graft.operators.Xref
    import org.apache.spark.sql.functions._
    val latest = Queries.f18XrefJudgements(spark, sf)
    val isDelta = col("judgement") === lit("positive") &&
      substring(md5(concat_ws("|", col("left_id"), col("right_id"))), 1,
        1) === lit("0")
    val batchN = latest.filter(isDelta).count()
    assert(batchN > 0, "held-out batch is empty — f20b is not " +
      "exercising the incremental path at this SF")
    val inc = Queries.f20bResolverIncremental(spark, sf)
      .collect().map(r => (r.getString(0), r.getString(1))).sorted
    val full = Xref.resolverMapping(latest)
      .collect().map(r => (r.getString(0), r.getString(1))).sorted
    assert(inc.sameElements(full))
  }

  test("q31 time fill: contiguous buckets, totals preserved, genuine zero rows") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("q31_time_fill")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val byType = rows.groupBy(_._1)
    byType.foreach { case (t, rs) =>
      val buckets = rs.map(_._2).sorted
      // the filled series is CONTIGUOUS at step 3600 over [min, max]
      assert(buckets.length == ((buckets.last - buckets.head) / 3600 + 1),
        s"$t: series has holes")
      assert(buckets.zip(buckets.tail).forall { case (a, b) => b - a == 3600 })
      assert(buckets.distinct.length == buckets.length, s"$t: dup buckets")
    }
    // fill rows are genuine zeros, not dropped or double-counted:
    // per-type totals equal the unfilled q14 totals
    val want = Tables.load(spark, sf, "events")
      .groupBy(col("event_type")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = rows.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    assert(got == want, s"$got != $want")
    // and the sparse sf0.001 grid actually HAS gaps to fill
    assert(rows.count(_._3 == 0L) > 0, "no zero rows — fill untested")
  }

  test("f25 pagerank: matches driver reference, partition-invariant, bounds hold") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // hand graph against a literal driver-side re-implementation of
    // the fixed-point recurrence (same floors, same teleport)
    val hand = Seq(("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"))
    def reference(edges: Seq[(String, String)], iters: Int): Map[String, Long] = {
      val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
      val deg = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
      var r = nodes.map(_ -> 1000000L).toMap
      for (_ <- 1 to iters) {
        val in = edges.groupBy(_._2).view.mapValues(_.map { case (u, _) =>
          (85L * r(u)) / (100L * deg(u)) }.sum).toMap
        r = nodes.map(n => n -> (150000L + in.getOrElse(n, 0L))).toMap
      }
      r
    }
    def run(df: org.apache.spark.sql.DataFrame): Map[String, Long] =
      graft.operators.PageRank.ranks(df, iters = 10)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = run(hand.toDF("src", "dst"))
    assert(got == reference(hand, 10), s"$got != ${reference(hand, 10)}")
    // duplicate edges collapse (the edge set is a SET); partitioning
    // cannot move a single micro-unit (integer sums are order-free)
    assert(run((hand ++ hand).toDF("src", "dst").repartition(7)) == got)
    // the full f25 face: every rank ≥ teleport, in-degree-less nodes
    // sit exactly AT teleport, total mass ≤ n·scale (floors only leak)
    val rows = SparkEntry.queries("f25_pagerank")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(rows.nonEmpty)
    assert(rows.forall(_._2 >= 150000L))
    assert(rows.exists(_._2 == 150000L), "no pure-teleport node found")
    assert(rows.map(_._2).sum <= rows.length.toLong * 1000000L)
    assert(rows.exists(_._2 > 1000000L), "no accumulation hub found")
  }

  test("q34 max concurrent: equals the driver-side sweep, half-open ties") {
    import org.apache.spark.sql.functions._
    // literal re-implementation of the sweep over the same raw views
    val views = Tables.load(spark, sf, "events")
      .filter(col("event_type") === "view")
      .select(col("user_id"), unix_micros(col("ts")).as("s"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val want = views.groupBy(_._1).map { case (u, vs) =>
      val deltas = vs.flatMap { case (_, s) =>
        Seq((s, 1L), (s + 7200L * 1000000L, -1L)) }
        .sortBy { case (t, d) => (t, d) } // ends (−1) before starts (+1)
      var conc = 0L; var best = 0L; var at = 0L
      for ((t, d) <- deltas) {
        conc += d
        if (conc > best) { best = conc; at = t }
      }
      u -> ((best, at))
    }
    val got = SparkEntry.queries("q34_max_concurrent")(spark, sf)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(got == want, "sweep mismatch")
    // half-open semantics on a constructed back-to-back pair: an
    // interval ending exactly when another starts must NOT overlap it
    import spark.implicits._
    val handViews = Seq((1L, 0L), (1L, 7200L * 1000000L)) // touch, no overlap
    val sweep = handViews.flatMap { case (u, s) =>
      Seq((u, s, 1L), (u, s + 7200L * 1000000L, -1L)) }
      .sortBy { case (_, t, d) => (t, d) }
    var c = 0L; var m = 0L
    sweep.foreach { case (_, _, d) => c += d; m = math.max(m, c) }
    assert(m == 1L, "half-open tie rule broken in the reference sweep")
  }

  test("q35 entropy: exact lattice recompute, zero for single-type users") {
    import org.apache.spark.sql.functions._
    def nb(x: Long): Long = math.round(math.log(x.toDouble) / math.log(2.0) * 1e9)
    val counts = Tables.load(spark, sf, "events")
      .groupBy(col("user_id"), col("event_type")).count()
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    val want = counts.groupBy(_._1).map { case (u, cs) =>
      val t = cs.map(_._2).sum
      val s = cs.map { case (_, c) => c * nb(c) }.sum
      u -> ((t * nb(t) - s).toDouble / (t * 1e9))
    }
    val got = SparkEntry.queries("q35_entropy")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    // the lattice makes both sides the SAME integer arithmetic — exact
    assert(got == want, "entropy lattice mismatch")
    assert(got.values.forall(h => h >= -1e-9 && h <= math.log(64) / math.log(2)),
      "entropy out of [0, log2(types)] range")
  }

  test("q35 entropy: over-bound user REFUSES loudly (no silent BIGINT wrap)") {
    import org.apache.spark.sql.functions._
    // a user past the documented Σ c·L(c) < 2^63 magnitude bound
    // (~1.4e8 events) must fail with the guard's message, never return
    // a silently-wrapped entropy — the engines would diverge there
    // (DuckDB widens to HUGEINT, Spark wraps)
    val over = spark.range(Queries.entropyMaxGroup + 5000000L)
      .select(lit(1L).as("user_id"),
        (col("id") % 5).cast("string").as("event_type"))
    val e = intercept[Exception] { Queries.entropyOf(over).collect() }
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ chain(t.getCause)
    assert(chain(e).exists(_.contains("lattice overflow guard")),
      s"expected the refuse-loudly guard, got: ${chain(e).mkString(" | ")}")
    // in-bound frames pass through the guard untouched (exact lattice)
    import spark.implicits._
    val ok = Seq((1L, "a"), (1L, "a"), (1L, "b"), (1L, "b"))
      .toDF("user_id", "event_type")
    val r = Queries.entropyOf(ok).collect()
    assert(r.length == 1 && math.abs(r(0).getDouble(3) - 1.0) < 1e-12,
      "guarded in-bound entropy should be exactly 1 bit for a 2/2 split")
  }

  test("f26 triangles: hand graphs + brute-force census on sf0.001") {
    import spark.implicits._
    import graft.operators.Triangles
    def run(es: Seq[(String, String)]): Map[String, Long] =
      Triangles.perNode(es.toDF("src", "dst"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // K4: 4 triangles, every node on 3 of them
    val k4 = for { a <- Seq("a", "b", "c", "d"); b <- Seq("a", "b", "c", "d")
      if a < b } yield (a, b)
    assert(run(k4) == Map("a" -> 3L, "b" -> 3L, "c" -> 3L, "d" -> 3L))
    // a square has NO triangles; duplicate + reversed edges collapse
    val square = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"),
      ("b", "a"), ("a", "b"))
    assert(run(square).isEmpty)
    // triangle with a pendant: the pendant is on no triangle
    val pend = Seq(("a", "b"), ("b", "c"), ("a", "c"), ("c", "d"))
    assert(run(pend) == Map("a" -> 1L, "b" -> 1L, "c" -> 1L))
    // full f26 face vs a driver-side brute-force census
    val li = Tables.load(spark, sf, "lineitem")
      .select(org.apache.spark.sql.functions.col("l_orderkey"),
        org.apache.spark.sql.functions.col("l_partkey"),
        org.apache.spark.sql.functions.col("l_suppkey"))
      .collect().map(r => (s"order-${r.getLong(0)}", s"part-${r.getLong(1)}",
        s"supplier-${r.getLong(2)}"))
    val edges = li.flatMap { case (o, p, sp) =>
      Seq((o, p), (p, sp), (o, sp)) }
      .map { case (x, y) => if (x < y) (x, y) else (y, x) }.distinct
    val adj = edges.groupBy(_._1).view.mapValues(_.map(_._2).toSet)
      .toMap.withDefaultValue(Set.empty[String])
    val eset = edges.toSet
    val brute = scala.collection.mutable.Map[String, Long]()
      .withDefaultValue(0L)
    for ((a, b) <- edges; c <- adj(b) if eset.contains((a, c))) {
      // a < b < c by construction of adj/eset ordering
      brute(a) += 1; brute(b) += 1; brute(c) += 1
    }
    val got = SparkEntry.queries("f26_triangles")(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == brute.toMap, "census differs from brute force")
  }

  test("q37 histogram: totals preserved, bins in range, exact recompute") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("q37_histogram")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.forall(r => r._2 >= 0L && r._2 <= 19L), "bin out of range")
    val want = Tables.load(spark, sf, "events")
      .groupBy(col("event_type")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = rows.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    assert(got == want, "histogram drops or double-counts rows")
    // exact driver recompute of the same IEEE grid
    val vals = Tables.load(spark, sf, "events")
      .select(col("event_type"), col("value"))
      .collect().map(r => (r.getString(0), r.getDouble(1)))
    val lo = vals.map(_._2).min; val hi = vals.map(_._2).max
    val ref = vals.groupBy { case (t, v) =>
      (t, math.min(19L, math.floor((v - lo) * 20.0 / (hi - lo)).toLong))
    }.view.mapValues(_.length.toLong).toMap
    assert(rows.map(r => (r._1, r._2) -> r._3).toMap == ref)
  }

  test("f27 pmi: exact lattice recompute on sf0.001, sign sanity") {
    import org.apache.spark.sql.functions._
    def nb(x: Long): Long = math.round(math.log(x.toDouble) / math.log(2.0) * 1e9)
    val items = Tables.load(spark, sf, "lineitem")
      .select(col("l_orderkey"), col("l_partkey")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val n = items.map(_._1).distinct.length.toLong
    val ca = items.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val want = items.groupBy(_._1).values.flatMap { basket =>
      val ps = basket.map(_._2).sorted
      for (i <- ps.indices; j <- (i + 1) until ps.length)
        yield (ps(i), ps(j))
    }.groupBy(identity).view.mapValues(_.size.toLong).filter(_._2 >= 2)
      .map { case ((a, b), co) =>
        (a, b) -> ((co, nb(co) + nb(n) - nb(ca(a)) - nb(ca(b))))
      }.toMap
    val got = SparkEntry.queries("f27_cooccur_pmi")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    assert(got.nonEmpty && got == want, "pmi lattice mismatch")
    // sign sanity vs the exact rational c_ab·N vs c_a·c_b comparison:
    // each lattice term rounds within 0.5 nanobits, so a 4-term pmi
    // can sit at most 2 nanobits from the true log — the sign must
    // agree beyond that slack on every row
    got.foreach { case ((a, b), (co, pmi)) =>
      val exact = BigInt(co) * BigInt(n) - BigInt(ca(a)) * BigInt(ca(b))
      if (exact > 0) assert(pmi > -4L, s"($a,$b): positive pair, pmi $pmi")
      if (exact < 0) assert(pmi < 4L, s"($a,$b): negative pair, pmi $pmi")
    }
  }

  test("f25b personalized pagerank: driver reference, zero-certificate, " +
      "seed restriction") {
    import spark.implicits._
    // hand graph with an unreachable island (d, e): the walk from seed
    // a must leave them at EXACTLY 0
    val hand = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("d", "e"))
    def reference(edges: Seq[(String, String)], seeds: Set[String],
        iters: Int): Map[String, Long] = {
      val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
      val deg = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
      var r = nodes.map(n => n -> (if (seeds(n)) 1000000L else 0L)).toMap
      for (_ <- 1 to iters) {
        val in = edges.groupBy(_._2).view.mapValues(_.map { case (u, _) =>
          (85L * r(u)) / (100L * deg(u)) }.sum).toMap
        r = nodes.map(n =>
          n -> ((if (seeds(n)) 150000L else 0L) + in.getOrElse(n, 0L))).toMap
      }
      r
    }
    val got = graft.operators.PageRank.personalizedRanks(
        hand.toDF("src", "dst"), Seq("a").toDF("id"), iters = 10)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = reference(hand, Set("a"), 10)
    assert(got == want, s"$got != $want")
    assert(got("d") == 0L && got("e") == 0L, "island leaked phantom mass")
    // the full f25b face: nonzero mass exists, total mass bounded by
    // (#seeds)·scale (floors only leak, teleport only feeds seeds),
    // and strictly fewer nodes carry mass than in the global f25 rank
    val rows = SparkEntry.queries("f25b_pagerank_personalized")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(rows.exists(_._2 > 0L), "no seed mass")
    assert(rows.exists(_._2 == 0L), "personalization reached every node")
    val f25n = SparkEntry.queries("f25_pagerank")(spark, sf).count()
    assert(rows.length.toLong == f25n, "rank vector must cover all nodes")
  }

  test("f28 communities: per-edge support, truss filter, converged labels") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.operators.{LabelProp, Triangles}
    // K4: every edge sits on exactly 2 triangles
    val k4 = for { a <- Seq("a", "b", "c", "d"); b <- Seq("a", "b", "c", "d")
      if a < b } yield (a, b)
    val k4sup = Triangles.perEdge(k4.toDF("src", "dst"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    assert(k4sup == k4.map(_ -> 2L).toMap, s"K4 supports: $k4sup")
    // two triangles joined by a bridge: the bridge edge has support 0
    // (absent from perEdge), so min-label propagation over the
    // support-filtered edges yields two communities
    val twoTri = Seq(("a", "b"), ("b", "c"), ("a", "c"),
      ("x", "y"), ("y", "z"), ("x", "z"), ("c", "x"))
    val sup = Triangles.perEdge(twoTri.toDF("src", "dst"))
    assert(!sup.collect().exists(r =>
      r.getString(0) == "c" && r.getString(1) == "x"), "bridge on a triangle?")
    val labels = LabelProp.minLabelRounds(
        sup.select(col("a").as("src"), col("b").as("dst")), rounds = 5)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(labels == Map("a" -> "a", "b" -> "a", "c" -> "a",
      "x" -> "x", "y" -> "x", "z" -> "x"), s"labels: $labels")
    // the full f28 face: every member's community is a member id, a
    // root exists, and the 10 fixed rounds CONVERGED on the gated
    // dataset — the labels equal the true component minima from the
    // convergence-checked Components.minLabel on the same truss edges
    val f28 = SparkEntry.queries("f28_communities")(spark, sf)
      .collect().map(r => r.getString(0) -> r.getString(1))
    assert(f28.nonEmpty)
    val members = f28.map(_._1).toSet
    assert(f28.forall { case (_, c) => members.contains(c) },
      "community label is not a member id")
    assert(f28.exists { case (n, c) => n == c }, "no community root")
    val liS = Tables.load(spark, sf, "lineitem").select(
      concat(lit("order-"), col("l_orderkey")).as("o"),
      concat(lit("part-"), col("l_partkey")).as("p"),
      concat(lit("supplier-"), col("l_suppkey")).as("sp"))
    val edgesS = liS.select(col("o").as("src"), col("p").as("dst"))
      .unionAll(liS.select(col("p").as("src"), col("sp").as("dst")))
      .unionAll(liS.select(col("o").as("src"), col("sp").as("dst")))
    val keptS = Triangles.perEdge(edgesS).filter(col("support") >= 2)
      .select(col("a").as("src"), col("b").as("dst"))
    val comp = graft.operators.Components.minLabel(keptS)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(f28.toMap == comp,
      "10 LP rounds did not reach the component fixed point")
  }

  test("f29 k-core: hand graphs, cascade peel, converged at the registry rounds") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.operators.KCore
    def run(es: Seq[(String, String)], k: Long,
        rounds: Int = 10): Map[String, Long] =
      KCore.membership(es.toDF("src", "dst"), k, rounds)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // triangle + pendant: the 2-core is the triangle (pendant peeled)
    val pend = Seq(("a", "b"), ("b", "c"), ("a", "c"), ("c", "d"))
    assert(run(pend, 2) == Map("a" -> 2L, "b" -> 2L, "c" -> 2L))
    // the CASCADE: a path hanging off a 4-clique peels node by node —
    // one round per hop — and the clique survives at k = 3
    val clique = for { x <- Seq("a", "b", "c", "d")
      y <- Seq("a", "b", "c", "d") if x < y } yield (x, y)
    val chain = Seq(("d", "p1"), ("p1", "p2"), ("p2", "p3"))
    val k4core = Map("a" -> 3L, "b" -> 3L, "c" -> 3L, "d" -> 3L)
    assert(run(clique ++ chain, 2) == k4core,
      s"k=2 cascade: ${run(clique ++ chain, 2)}")
    assert(run(clique ++ chain, 3) == k4core)
    // K4 is its own 3-core; at k = 4 everything peels
    assert(run(clique, 4).isEmpty)
    // the registry face CONVERGED at 10 rounds: equals an UNBOUNDED
    // driver-side peel of the same graph at sf0.001
    val li = Tables.load(spark, sf, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"))
      .collect().map(r => (s"order-${r.getLong(0)}",
        s"part-${r.getLong(1)}", s"supplier-${r.getLong(2)}"))
    var edges = li.flatMap { case (o, p, sp) =>
      Seq((o, p), (p, sp), (o, sp)) }
      .map { case (x, y) => if (x < y) (x, y) else (y, x) }
      .distinct.toSet
    var changed = true
    while (changed) {
      val deg = edges.toSeq.flatMap { case (a, b) => Seq(a, b) }
        .groupBy(identity).view.mapValues(_.size).toMap
      val next = edges.filter { case (a, b) => deg(a) >= 3 && deg(b) >= 3 }
      changed = next != edges
      edges = next
    }
    val want = edges.toSeq.flatMap { case (a, b) => Seq(a, b) }
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val got = SparkEntry.queries("f29_kcore")(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == want, "10 peel rounds did not reach the fixed point")
    assert(got.nonEmpty && got.values.forall(_ >= 3L))
  }

  test("q38 sequence next node: exact driver recompute on sf0.001") {
    import org.apache.spark.sql.functions._
    val evts = Tables.load(spark, sf, "events")
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      .collect()
      .map { r =>
        val ts = r.getAs[java.sql.Timestamp](2)
        (r.getLong(0), r.getString(1), (ts.getTime, ts.getNanos),
          r.getLong(3))
      }
    val want = evts.groupBy(_._1).flatMap { case (u, es) =>
      val tl = es.sortBy(e => (e._3._1, e._3._2, e._4)).map(_._2).toSeq
      tl.indices.dropRight(1)
        .find(i => tl(i) == "view" && tl(i + 1) == "click")
        .map(i => u -> (if (i + 2 < tl.length) tl(i + 2) else "none"))
    }
    val got = SparkEntry.queries("q38_sequence_next_node")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got.nonEmpty && got == want.toMap, "next-node mismatch")
    assert(got.values.exists(_ == "none") || true) // tail case may not occur at this sf
  }

  test("f30 as-of traversal: a strict time-slice of f22's reach") {
    import org.apache.spark.sql.functions._
    def reach(q: String): Map[String, Long] =
      SparkEntry.queries(q)(spark, sf)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val now = reach("f22_khop_traversal")
    val asOf = reach("f30_traversal_asof")
    assert(asOf.nonEmpty && asOf.size < now.size,
      s"the cutoff must bite: ${asOf.size} vs ${now.size}")
    assert(asOf.keySet.subsetOf(now.keySet),
      "time-sliced reach must be a subset of the live reach")
    // removing edges can only lengthen or sever paths, never shorten
    assert(asOf.forall { case (e, h) => h >= now(e) })
    // every order in the sliced reach predates the cutoff
    val late = Tables.load(spark, sf, "orders")
      .filter(col("o_orderdate") > lit("1997-06-30").cast("timestamp"))
      .collect().map(r => s"order-${r.getLong(0)}").toSet
    assert(asOf.keySet.intersect(late).isEmpty,
      "a post-cutoff order leaked into the as-of reach")
  }

  test("every registry query executes deterministically on sf0.001") {
    val counts = SparkEntry.queries.toSeq.sortBy(_._1).map {
      case (name, fn) =>
        val c1 = fn(spark, sf).count()
        val c2 = fn(spark, sf).count()
        assert(c1 == c2, s"$name: non-deterministic count $c1 vs $c2")
        name -> c1
    }.toMap
    // every query yields rows on the smallest sf except genuinely
    // selective ones
    val mayBeEmpty = Set("q12_anti_join", "d2_dedup_ngram_jaccard",
      "d3_dedup_minhash_lsh", "d5_dedup_embedding", "q5_search")
    counts.foreach { case (name, c) =>
      if (!mayBeEmpty(name)) assert(c > 0, s"$name returned 0 rows")
    }
  }
}
