package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Components, Fixpoint}

/** Connected-components engine specs: the two algorithms must agree,
  * and the star algorithm must solve the high-diameter graphs the
  * propagation algorithm (correctly) refuses.
  */
class ComponentsSpec extends AnyFunSuite {
  import SparkTestSession._

  private def labelsOf(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  // the persisted-RDD set is session-global, but forked suites run
  // sequentially, so within one test every id added to it is ours; the
  // ContextCleaner may still remove earlier ids, so compare differences
  private def addedSince(before: Set[Int]): Set[Int] =
    persistedIds() -- before

  // two triangles sharing node 3, a tail 5-6-7 and a separate pair;
  // the first five edges are the "old" graph of the delta faces
  private val custodyGraph = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L),
    (4L, 5L), (3L, 5L), (5L, 6L), (6L, 7L), (8L, 9L))

  test("minLabelStars == minLabel on a mixed graph (cliques, chains, self-loop)") {
    import spark.implicits._
    // clique 1-2-3-4, chain 10-11-12-13, pair 20-21, isolated self-loop 30
    val edges = (for {
      a <- Seq(1L, 2L, 3L, 4L); b <- Seq(1L, 2L, 3L, 4L) if a < b
    } yield (a, b)) ++
      Seq((10L, 11L), (11L, 12L), (12L, 13L), (20L, 21L), (30L, 30L))
    val df = edges.toDF("src", "dst")
    val prop = labelsOf(Components.minLabel(df))
    val stars = labelsOf(Components.minLabelStars(df))
    assert(stars == prop)
    assert(stars(4L) == 1L && stars(13L) == 10L && stars(30L) == 30L)
  }

  test("minLabelStars solves a diameter-60 path where minLabel throws at maxIter=50") {
    import spark.implicits._
    // pairwise-merge judgement chain: 0-1, 1-2, ..., 59-60
    val path = (0L until 60L).map(i => (i, i + 1)).toDF("src", "dst")
    val before = persistedIds()
    assertThrows[IllegalStateException] {
      Components.minLabel(path, maxIter = 50).count()
    }
    assert(addedSince(before).isEmpty,
      "the non-convergence throw must pin nothing")
    val stars = labelsOf(Components.minLabelStars(path))
    assert(stars.size == 61 && stars.values.forall(_ == 0L))
  }

  // ---- Traverse.khop (f22) ----

  private def hopsOf(df: org.apache.spark.sql.DataFrame): Map[String, Int] =
    df.collect().map(r => r.getString(0) -> r.getInt(1)).toMap

  test("khop == brute-force BFS distances on a randomized graph") {
    import graft.operators.Traverse
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val n = 60
    val edges = Seq.fill(140)((rnd.nextInt(n).toString, rnd.nextInt(n).toString))
    val seeds = Seq("0", "1")
    // reference BFS over the symmetrized adjacency
    val adj = (edges ++ edges.map(_.swap)).groupBy(_._1)
      .map { case (k, vs) => k -> vs.map(_._2).toSet }
    var dist = seeds.map(_ -> 0).toMap
    var frontier = seeds.toSet
    for (h <- 1 to 3) {
      val next = frontier.flatMap(v => adj.getOrElse(v, Set.empty))
        .diff(dist.keySet)
      dist ++= next.map(_ -> h)
      frontier = next
    }
    val got = hopsOf(Traverse.khop(
      edges.toDF("src", "dst"), seeds.toDF("id"), maxHops = 3))
    assert(got == dist,
      s"mismatch: extra=${got.toSet -- dist.toSet} missing=${dist.toSet -- got.toSet}")
  }

  test("shortestPathMembers == brute-force meet-in-the-middle on a randomized graph") {
    import graft.operators.Traverse
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val n = 40
    val edges = Seq.fill(70)((rnd.nextInt(n).toString, rnd.nextInt(n).toString))
    val adj = (edges ++ edges.map(_.swap)).groupBy(_._1)
      .map { case (k, vs) => k -> vs.map(_._2).toSet }
    def bfs(seeds: Set[String], maxH: Int): Map[String, Int] = {
      var dist = seeds.map(_ -> 0).toMap
      var frontier = seeds
      for (h <- 1 to maxH) {
        val next = frontier.flatMap(v => adj.getOrElse(v, Set.empty))
          .diff(dist.keySet)
        dist ++= next.map(_ -> h)
        frontier = next
      }
      dist
    }
    val (sa, sb) = (Set("0"), Set("1", "2"))
    val da = bfs(sa, 3); val db = bfs(sb, 3)
    val common = da.keySet intersect db.keySet
    val want: Set[(String, Long, Long, Long)] =
      if (common.isEmpty) Set.empty
      else {
        val d = common.map(v => da(v) + db(v)).min
        common.filter(v => da(v) + db(v) == d)
          .map(v => (v, da(v).toLong, db(v).toLong, d.toLong))
      }
    val got = Traverse.shortestPathMembers(
      edges.toDF("src", "dst"), sa.toSeq.toDF("id"), sb.toSeq.toDF("id"),
      maxHops = 3)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got == want)
    // disconnected seed sets → empty, not an error
    val far = Traverse.shortestPathMembers(
      Seq(("a", "b"), ("x", "y")).toDF("src", "dst"),
      Seq("a").toDF("id"), Seq("x").toDF("id"), maxHops = 5)
    assert(far.isEmpty)
    // coverage contract (documented): a line of length 8 with
    // maxHops = 4 yields the MIDDLE SLICE — only the midpoint has
    // both distances within budget — while dist stays exact; at
    // maxHops >= dist the DAG is complete
    val line = (0 until 8).map(i => (s"n$i", s"n${i + 1}")).toDF("src", "dst")
    val mid = Traverse.shortestPathMembers(
      line, Seq("n0").toDF("id"), Seq("n8").toDF("id"), maxHops = 4)
      .collect().map(r => (r.getString(0), r.getLong(3))).toSet
    assert(mid == Set(("n4", 8L)), s"middle slice: $mid")
    val full = Traverse.shortestPathMembers(
      line, Seq("n0").toDF("id"), Seq("n8").toDF("id"), maxHops = 8)
    assert(full.count() == 9L, "maxHops >= dist returns the whole path")
  }

  test("khop edge semantics: maxHops=0, absent seeds, unreachable region") {
    import graft.operators.Traverse
    import spark.implicits._
    val edges = Seq(("a", "b"), ("b", "c"), ("x", "y")).toDF("src", "dst")
    // maxHops=0 → exactly the seed set at hop 0, even seeds the edge
    // list never mentions
    val zero = hopsOf(Traverse.khop(edges, Seq("a", "ghost").toDF("id"), 0))
    assert(zero == Map("a" -> 0, "ghost" -> 0))
    // the x-y component is unreachable from a at any depth; c is found
    // at its minimal depth 2 even though maxHops allows 5
    val got = hopsOf(Traverse.khop(edges, Seq("a").toDF("id"), 5))
    assert(got == Map("a" -> 0, "b" -> 1, "c" -> 2))
  }

  // ---- checkpoint custody (Fixpoint) ----

  test("custody: every graph operator pins exactly its result's checkpoints") {
    import graft.operators.{KCore, LabelProp, PageRank, Traverse, Triangles}
    import spark.implicits._
    val edges = custodyGraph.toDF("src", "dst")
    val (oldG, newG) = custodyGraph.splitAt(5)
    val (oldE, newE) = (oldG.toDF("src", "dst"), newG.toDF("src", "dst"))
    // the delta faces' stored state, as local rows that pin nothing
    def stored(df: DataFrame): DataFrame =
      try spark.createDataFrame(
        java.util.Arrays.asList(df.collect(): _*), df.schema)
      finally Fixpoint.release(df)
    val oldCore = stored(KCore.membership(oldE, 2L, rounds = 10))
    val oldSupport = stored(Triangles.perEdgeDiff(oldE))
    val one = Seq(1L).toDF("id")
    val cases: Seq[(String, () => DataFrame)] = Seq(
      "minLabel" -> (() => Components.minLabel(edges)),
      "minLabelStars" -> (() => Components.minLabelStars(edges)),
      "khop" -> (() => Traverse.khop(edges, one, maxHops = 3)),
      "shortestPathMembers" -> (() => Traverse.shortestPathMembers(
        edges, one, Seq(7L).toDF("id"), maxHops = 3)),
      "ranks" -> (() => PageRank.ranks(edges)),
      "personalizedRanks" -> (() => PageRank.personalizedRanks(edges, one)),
      "minLabelRounds" -> (() => LabelProp.minLabelRounds(edges, rounds = 7)),
      "membership" -> (() => KCore.membership(edges, 2L, rounds = 10)),
      "membershipDeltaDiff" ->
        (() => KCore.membershipDeltaDiff(oldE, oldCore, newE, 2L)),
      "perEdgeDiff" -> (() => Triangles.perEdgeDiff(edges)),
      "perEdgeDeltaDiff" ->
        (() => Triangles.perEdgeDeltaDiff(oldE, oldSupport, newE)))
    val sentinel = spark.sparkContext.parallelize(1 to 10).persist()
    assert(sentinel.count() == 10)
    for ((name, run) <- cases) {
      val before = persistedIds()
      val out = run()
      assert(out.collect().nonEmpty, name)
      val own = checkpointIds(out)
      assert(own.nonEmpty && (own & before).isEmpty, name)
      assert(addedSince(before) == own, s"$name pinned more than its result")
      Fixpoint.release(out)
      assert(addedSince(before).isEmpty,
        s"$name: releasing the result left pins")
    }
    assert(persistedIds().contains(sentinel.id) && sentinel.count() == 10,
      "an RDD persisted by someone else must survive")
    sentinel.unpersist()
  }

  test("custody: ivfTreeTopK pins only its result's checkpoints, degenerate path too") {
    import graft.operators.Similarity
    import org.apache.spark.sql.functions.col
    val emb = Tables.load(spark, sf, "embeddings")
    val queries = emb.filter(col("vec_id") < 10)
    for ((name, corpus) <- Seq("trained" -> emb, "empty" -> emb.limit(0))) {
      val cents = Similarity.centroids(corpus, col("label"))
      val before = persistedIds()
      val out = Similarity.ivfTreeTopK(corpus, queries, cents,
        k = 5, topCount = 3)
      out.collect()
      assert(addedSince(before) == checkpointIds(out),
        s"$name: the tree's training checkpoints outlived the call")
    }
  }

  test("custody: bounded training state is collected, never pinned (s7 tree, p7 budgets, tree store)") {
    import graft.operators.{Dedup, Sampling, Similarity}
    import graft.sources.{TableSwap, VecStore}
    import org.apache.spark.sql.functions.{col, size}
    val emb = Tables.load(spark, sf, "embeddings")
    val queries = emb.filter(col("vec_id") < 10)
    def unchanged(name: String)(f: => Unit): Unit = {
      val before = persistedIds()
      f
      assert(addedSince(before).isEmpty, s"$name left an RDD persisted")
    }
    for ((name, corpus) <- Seq("trained" -> emb, "empty" -> emb.limit(0)))
      unchanged(s"ivfTreeTopK ($name)")(Similarity.ivfTreeTopK(corpus,
        queries, Similarity.centroids(corpus, col("label")),
        k = 5, topCount = 3).collect())
    unchanged("temperatureMix")(Sampling.temperatureMix(
      Tables.load(spark, sf, "documents").select(col("doc_id"),
        col("source"), size(Dedup.words(col("text"))).cast("long")
          .as("n_tokens")),
      "source", "doc_id", col("n_tokens"), totalBudget = 6000L).collect())
    val store = "custody_tree_store"
    val tables = Seq(store, s"${store}_cents", s"${store}_tops",
      s"${store}_leafmap")
    tables.foreach(TableSwap.dropManaged(spark, _))
    try unchanged("VecStore.init with a tree")(VecStore.init(spark, store,
      emb, col("label"), buckets = 4, treeTopCount = 3))
    finally tables.foreach(TableSwap.dropManaged(spark, _))
  }

  test("custody: minLabel and membership on two threads equal their sequential results") {
    import graft.operators.KCore
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    import spark.implicits._
    val chain = (0L until 15L).map(i => (i, i + 1)).toDF("src", "dst")
    val graph = custodyGraph.toDF("src", "dst")
    def consumed[A](df: DataFrame)(f: DataFrame => A): A =
      try f(df) finally Fixpoint.release(df)
    def labels() = consumed(Components.minLabel(chain))(labelsOf)
    def core() = consumed(KCore.membership(graph, 2L, rounds = 10))(labelsOf)
    val (wantLabels, wantCore) = (labels(), core())
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val l = Future(Seq.fill(3)(labels()))
      val c = Future(Seq.fill(3)(core()))
      assert(Await.result(l, 10.minutes).forall(_ == wantLabels))
      assert(Await.result(c, 10.minutes).forall(_ == wantCore))
    } finally pool.shutdown()
  }
}
