package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, Similarity}
import graft.sources.{TableSwap, VecStore}

/** Specs for the vector store (the embedding-side incremental dedup
  * index): assignment parity with the exchange-based argmax, probe
  * parity with the d13 DataFrame twin, re-delivery collapse, compact,
  * cutoff semantics, and the probe's plan shape.
  */
class VecStoreSpec extends AnyFunSuite {
  import SparkTestSession._

  private def dropStore(name: String): Unit =
    for (t <- Seq(name, s"${name}_cents", s"${name}_tops",
        s"${name}_leafmap", s"${name}_pq",
        s"${name}_codes", s"${name}_dels"))
      TableSwap.dropManaged(spark, t)

  private lazy val emb = Tables.load(spark, sf, "embeddings")
  private lazy val stored = emb.filter(col("vec_id") % 10 =!= 0)
  private lazy val batch = emb.filter(col("vec_id") % 10 === 0)

  private def verdictMap(df: org.apache.spark.sql.DataFrame) =
    df.collect().map { r =>
      r.getLong(0) -> ((r.getInt(1), r.getBoolean(2),
        Option(r.get(3)).map(_.toString),
        Option(r.get(4)).map(_.toString)))
    }.toMap

  test("flat list picker equals nearestLists; a zero norm lands in the lowest list") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import spark.implicits._
    import graft.functions.TreeQuantizerExpression
    def lists(df: DataFrame) = df.select(col("vec_id"), col("list_id"))
      .collect().map(r => r.getLong(0) -> r.get(1)).toMap
    // the store's flat matrix over the real corpus
    dropStore("vec_assign")
    VecStore.init(spark, "vec_assign", stored, col("label"), buckets = 4)
    val viaStore = lists(VecStore.withAssignment(spark,
      emb.select(col("vec_id"), col("embedding")), "vec_assign"))
    val viaTwin = lists(Similarity.nearestLists(
      emb.select(col("vec_id"), col("embedding")),
      Similarity.centNorms(VecStore.centroids(spark, "vec_assign")),
      "vec_id", keep = 1))
    assert(viaStore.nonEmpty && viaStore == viaTwin)

    // randomized centroid sets with an exact 4dp tie (a centroid and
    // its 3× multiple: equal at 4dp, not bitwise) and a duplicate
    // centroid, under integer and string list ids in shuffled order
    val rnd = new scala.util.Random(17)
    val vecs = (0L until 300L)
      .map(i => (i, Array.fill(8)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val cases = Seq[(String, DataType, Int => Any, (Any, Any) => Boolean)](
      ("int", IntegerType, i => (i * 37) % 100 - 50,
        (a, b) => a.asInstanceOf[Int] < b.asInstanceOf[Int]),
      ("string", StringType, i => f"L${(i * 37) % 100}%02d",
        (a, b) => a.asInstanceOf[String] < b.asInstanceOf[String]))
    for ((name, idType, idOf, lt) <- cases) {
      val base = Seq.fill(12)(Array.fill(8)(rnd.nextGaussian()))
      val cs = base ++ Seq(base(0).map(_ * 3.0), base(1))
      val ids = cs.indices.map(idOf)
      val cents = spark.createDataFrame(
        ids.zip(cs).map { case (id, c) => Row(id, c.toSeq) }.asJava,
        StructType(Seq(StructField("list_id", idType),
          StructField("centroid", ArrayType(DoubleType)))))
      val tm = Similarity.flatMatrix(cents)
      val picked = Similarity.withNearestList(vecs, cents, tm)
      val cn = Similarity.centNorms(cents)
      assert(lists(picked) ==
        lists(Similarity.nearestLists(vecs, cn, "vec_id", keep = 1)), name)
      // the higher id of the tied and of the duplicated pair never wins
      for ((a, b) <- Seq(ids(0) -> ids(12), ids(1) -> ids(13))) {
        val (lo, hi) = if (lt(a, b)) (a, b) else (b, a)
        assert(picked.filter(col("list_id") === lit(lo)).count() > 0 &&
          picked.filter(col("list_id") === lit(hi)).count() == 0,
          s"$name: tie $lo/$hi")
      }
      val probed = picked.select(col("vec_id"), col("list_id"),
        TreeQuantizerExpression.probeLists(col("embedding"), col("__n"),
          tm.get, 1, 3).getField("list_id").as("p"))
        .collect().map(r => (r.getLong(0), r.get(1), r.getSeq[Any](2)))
      val twinProbes = Similarity.nearestLists(vecs, cn, "vec_id", keep = 3)
        .select(col("vec_id"), col("list_id")).collect()
        .groupBy(_.getLong(0)).map { case (k, rs) => k -> rs.map(_.get(1)).toSet }
      assert(probed.length == 300 && probed.forall { case (id, l, p) =>
        p.length == 3 && p.head == l && p.toSet == twinProbes(id)
      }, name)
    }

    // zero norms: the label-0 group {v, −v} trains a zero centroid at
    // the lowest list id, and a zero vector scores NaN against every
    // centroid. It lands in list 0 on a flat and a tree store append
    // and through the operator assignment; every other vector skips
    // the zero centroid (its NaN loses), so it matches the twin over
    // the other centroids (the twin itself divides by the zero norm)
    val v = Array.fill(8)(rnd.nextGaussian().toFloat)
    val corpus = ((1L to 60L).map(i => (i, (i % 5 + 1).toInt,
      Array.fill(8)(rnd.nextGaussian().toFloat))) ++
      Seq((1000L, 0, v), (1001L, 0, v.map(-_))))
      .toDF("vec_id", "label", "embedding")
    val zero = Seq((2000L, Array.fill(8)(0f))).toDF("vec_id", "embedding")
    for ((t, top) <- Seq("vec_zflat" -> 0, "vec_ztree" -> 2)) {
      dropStore(t)
      VecStore.init(spark, t, corpus, col("label"), buckets = 2,
        treeTopCount = top)
      VecStore.append(spark, zero, t)
      assert(VecStore.read(spark, t).filter(col("vec_id") === 2000L)
        .select(col("list_id")).as[Int].collect().toSeq == Seq(0), t)
    }
    val zc = VecStore.centroids(spark, "vec_zflat")
    assert(zc.filter(col("list_id") === 0)
      .select(col("centroid")).as[Seq[Double]].head().forall(_ == 0.0))
    val opA = lists(Similarity.withNearestList(
      corpus.select(col("vec_id"), col("embedding")).union(zero), zc,
      Similarity.flatMatrix(zc)))
    assert(opA(2000L) == 0)
    assert(opA - 2000L == lists(Similarity.nearestLists(
      corpus.select(col("vec_id"), col("embedding")),
      Similarity.centNorms(zc.filter(col("list_id") =!= 0)),
      "vec_id", keep = 1)))
  }

  test("store probe equals the d13 DataFrame twin exactly") {
    dropStore("vec_probe")
    VecStore.init(spark, "vec_probe", stored, col("label"), buckets = 4)
    val viaStore = verdictMap(VecStore.nearDupVerdicts(
      spark, "vec_probe",
      batch.select(col("vec_id"), col("embedding")), minCos = 0.35))
    val viaTwin = verdictMap(Dedup.semDedupIncremental(
      stored, batch, Similarity.centroids(stored, col("label")),
      minCos = 0.35))
    assert(viaStore.nonEmpty && viaStore == viaTwin)
    // self-pairs never flag: dup_of is a STORED id, ids are disjoint
    viaStore.foreach { case (id, (_, _, dupOf, _)) =>
      assert(!dupOf.contains(id.toString))
    }
  }

  test("re-delivered append collapses at FINAL; probe unchanged") {
    dropStore("vec_redeliver")
    VecStore.init(spark, "vec_redeliver", stored, col("label"), buckets = 4)
    val before = verdictMap(VecStore.nearDupVerdicts(
      spark, "vec_redeliver",
      batch.select(col("vec_id"), col("embedding")), minCos = 0.35))
    val n = VecStore.readFinal(spark, "vec_redeliver").count()
    // the at-least-once world: the same batch lands twice
    VecStore.append(spark, stored.select(col("vec_id"), col("embedding")),
      "vec_redeliver")
    assert(VecStore.read(spark, "vec_redeliver").count() == 2 * n)
    assert(VecStore.readFinal(spark, "vec_redeliver").count() == n)
    val after = verdictMap(VecStore.nearDupVerdicts(
      spark, "vec_redeliver",
      batch.select(col("vec_id"), col("embedding")), minCos = 0.35))
    assert(after == before)
  }

  test("compact dedups durably and keeps the store probe-able") {
    dropStore("vec_compact")
    VecStore.init(spark, "vec_compact", stored, col("label"), buckets = 4)
    VecStore.append(spark, stored.select(col("vec_id"), col("embedding")),
      "vec_compact")
    val before = verdictMap(VecStore.nearDupVerdicts(
      spark, "vec_compact",
      batch.select(col("vec_id"), col("embedding")), minCos = 0.35))
    val n = VecStore.readFinal(spark, "vec_compact").count()
    VecStore.compact(spark, "vec_compact")
    assert(VecStore.read(spark, "vec_compact").count() == n)
    val after = verdictMap(VecStore.nearDupVerdicts(
      spark, "vec_compact",
      batch.select(col("vec_id"), col("embedding")), minCos = 0.35))
    assert(after == before)
  }

  test("oversize lists drop wholesale; empty lists keep is_dup=false") {
    import spark.implicits._
    // two lists: list of vec 1..3 (oversize at maxList=2), list of 4
    // (kept), and a batch vector landing in a list with no stored rows
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.9f, 0.1f)),
      (3L, Array(0.8f, 0.2f)), (4L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val cents = Seq(
      (0, Array(1.0, 0.0)), (1, Array(0.0, 1.0)), (2, Array(-1.0, 0.0)))
      .toDF("list_id", "centroid")
    val probes = Seq(
      (100L, Array(1.0f, 0.05f)),   // list 0: oversize → dropped
      (101L, Array(0.05f, 1.0f)),   // list 1: one stored member, dup
      (102L, Array(-1.0f, 0.0f)))   // list 2: no stored member
      .toDF("vec_id", "embedding")
    val out = verdictMap(Dedup.semDedupIncremental(
      vecs, probes, cents, minCos = 0.9, maxList = 2))
    assert(!out.contains(100L), "oversize list must drop wholesale")
    assert(out(101L)._2 && out(101L)._3.contains("4"))
    assert(out(102L)._1 == 2 && !out(102L)._2 && out(102L)._3.isEmpty)
  }

  test("persisted PQ codebook: reused search equals in-query training") {
    dropStore("vec_pq")
    // init with the FULL corpus so the stored codebook trains on the
    // same rows the in-query path sees
    VecStore.init(spark, "vec_pq", emb, col("label"), buckets = 4)
    VecStore.trainPqCodebook(spark, "vec_pq")
    val queries = emb.filter(col("vec_id") < 10)
    val stored = VecStore.codebook(spark, "vec_pq")
    val reused5 = Similarity.pqTopK(emb, queries, k = 5,
      codebook = Some(stored)).collect().map(_.toString).sorted.toSeq
    // an in-query codebook is one generation per face: a second
    // identical search persists its own codebook checkpoint and
    // releases the first one's (asserted on the checkpoints' RDD ids:
    // the ContextCleaner can drop other ids from the set mid-test)
    def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    def oneGeneration(name: String, reused: Seq[String])(
        fresh: () => DataFrame): Unit = {
      val first = fresh()
      assert(reused.nonEmpty && reused == rows(first), name)
      val second = fresh()
      assert(rows(second) == reused, name)
      val (mine1, mine2) = (checkpointIds(first) -- checkpointIds(second),
        checkpointIds(second) -- checkpointIds(first))
      assert(mine1.nonEmpty && mine2.nonEmpty, name)
      assert(mine2.subsetOf(persistedIds()),
        s"$name: the second call's codebook is not persisted")
      assert((mine1 & persistedIds()).isEmpty,
        s"$name: the first call's codebook was not released")
    }
    oneGeneration("pqTopK", reused5)(() =>
      Similarity.pqTopK(emb, queries, k = 5))
    val cents = VecStore.centroids(spark, "vec_pq")
    val reused6 = rows(Similarity.ivfPqTopK(emb, queries, cents, k = 5,
      nProbe = 3, codebook = Some(stored)))
    oneGeneration("ivfPqTopK", reused6)(() =>
      Similarity.ivfPqTopK(emb, queries, cents, k = 5, nProbe = 3))
  }

  test("store-served IVF search equals Similarity.ivfTopK exactly, pruned") {
    dropStore("vec_search")
    VecStore.init(spark, "vec_search", stored, col("label"), buckets = 4)
    val queries = batch.select(col("vec_id"), col("embedding")).limit(10)
      .localCheckpoint()
    val viaStore = VecStore.ivfTopK(spark, "vec_search", queries,
      k = 5, nProbe = 3)
      .collect().map(_.toString).sorted.toSeq
    val viaOp = Similarity.ivfTopK(
      stored.select(col("vec_id"), col("embedding")), queries,
      VecStore.centroids(spark, "vec_search"), k = 5, nProbe = 3)
      .collect().map(_.toString).sorted.toSeq
    assert(viaStore.nonEmpty && viaStore == viaOp)
    // the search scan is partition-pruned like the dedup probe
    val plan = VecStore.ivfTopK(spark, "vec_search", queries, 5, 3)
      .queryExecution.executedPlan.toString
    val scans = plan.split("\n").filter(_.contains("FileScan parquet"))
    assert(scans.nonEmpty && scans.forall(_.contains("list_id#")),
      s"search scans must partition-prune on list_id:\n${scans.mkString("\n")}")
  }

  // r13: the s9 filtered-search contract on STORED lists — assignment
  // is per-vector and filter-independent, so serving `among` a given
  // id set equals re-running the operator over the pre-filtered corpus
  test("store-served filtered IVF (among) equals the operator on the filtered corpus") {
    dropStore("vec_filtered")
    VecStore.init(spark, "vec_filtered", stored, col("label"), buckets = 4)
    val queries = batch.select(col("vec_id"), col("embedding")).limit(10)
      .localCheckpoint()
    import spark.implicits._
    val allowed = stored.filter(col("vec_id") % 3 === 0)
      .select(col("vec_id")).localCheckpoint()
    val viaStore = VecStore.ivfTopK(spark, "vec_filtered", queries,
      k = 5, nProbe = 3, among = Some(allowed))
      .collect().map(_.toString).sorted.toSeq
    val viaOp = Similarity.ivfTopK(
      stored.join(allowed, Seq("vec_id"), "left_semi")
        .select(col("vec_id"), col("embedding")),
      queries, VecStore.centroids(spark, "vec_filtered"), k = 5, nProbe = 3)
      .collect().map(_.toString).sorted.toSeq
    assert(viaStore.nonEmpty && viaStore == viaOp)
    // every served neighbor honors the filter
    val served = VecStore.ivfTopK(spark, "vec_filtered", queries,
      k = 5, nProbe = 3, among = Some(allowed))
      .select(col("neighbor_id")).distinct()
      .join(allowed.select(col("vec_id").as("neighbor_id")),
        Seq("neighbor_id"), "left_anti").count()
    assert(served == 0L, "a neighbor escaped the among filter")
    // an empty filter answers empty, never errors
    assert(VecStore.ivfTopK(spark, "vec_filtered", queries, 5, 3,
      among = Some(allowed.filter(col("vec_id") < -1))).count() == 0L)
  }

  // the persisted-tree twin pieces, derived from the STORE's centroid
  // table exactly as the store derived them at init (treeQuantizer is
  // choice-deterministic: every argmax rounds to 4dp with id
  // tie-break, so a retrain from the same table picks the same tree)
  private def treeTwin(table: String, topCount: Int) = {
    val cents = VecStore.centroids(spark, table)
    val (tops, leafMap) = Similarity.treeQuantizer(cents, topCount)
    val topCn = Similarity.centNorms(
      tops.select(col("top_id").as("list_id"), col("centroid")))
    (topCn, Similarity.treeLeaves(cents, leafMap))
  }

  test("tree store: assignment descends the persisted tree; flat re-init clears it") {
    dropStore("vec_tree")
    VecStore.init(spark, "vec_tree", stored, col("label"), buckets = 4,
      treeTopCount = 3)
    assert(spark.catalog.tableExists("vec_tree_tops") &&
      spark.catalog.tableExists("vec_tree_leafmap"))
    val (topCn, leaves) = treeTwin("vec_tree", 3)
    val viaOp = Similarity.treeDescend(
      emb.select(col("vec_id").as("id"), col("embedding")), "id",
      topCn, leaves)
      .select(col("id"), col("list_id")).collect()
      .map(r => r.getLong(0) -> r.get(1).toString).toMap
    val viaStore = VecStore
      .withAssignment(spark, emb.select(col("vec_id"), col("embedding")),
        "vec_tree")
      .select(col("vec_id"), col("list_id")).collect()
      .map(r => r.getLong(0) -> r.get(1).toString).toMap
    assert(viaStore.nonEmpty && viaStore == viaOp)
    // the WRITE path went through the same descent: every stored row
    // physically lives in its tree-chosen list
    VecStore.read(spark, "vec_tree")
      .select(col("vec_id"), col("list_id")).collect()
      .foreach(r => assert(viaOp(r.getLong(0)) == r.get(1).toString))
    // migrate's sampled drift check recomputes through the SAME tree
    // descent — a healthy tree store schedules no repair
    assert(VecStore.migrate(spark, "vec_tree").isEmpty)
    // re-init WITHOUT the option: tree tables gone, assignment is the
    // flat argmax again — no half-and-half residue
    VecStore.init(spark, "vec_tree", stored, col("label"), buckets = 4)
    assert(!spark.catalog.tableExists("vec_tree_tops") &&
      !spark.catalog.tableExists("vec_tree_leafmap"))
    val flat = Similarity.nearestLists(
      emb.select(col("vec_id"), col("embedding")),
      Similarity.centNorms(VecStore.centroids(spark, "vec_tree")),
      "vec_id", keep = 1)
      .select(col("vec_id"), col("list_id")).collect()
      .map(r => r.getLong(0) -> r.get(1).toString).toMap
    val reStore = VecStore
      .withAssignment(spark, emb.select(col("vec_id"), col("embedding")),
        "vec_tree")
      .select(col("vec_id"), col("list_id")).collect()
      .map(r => r.getLong(0) -> r.get(1).toString).toMap
    assert(reStore == flat)
  }

  test("tree store: topCount past the leaf count degrades gracefully") {
    dropStore("vec_tbig")
    // more subtrees requested than leaves exist: the quantizer seeds
    // min(topCount, L) tops, empty subtrees drop at the matrix build,
    // and every face still answers with twin-exact choices
    VecStore.init(spark, "vec_tbig", stored, col("label"), buckets = 4,
      treeTopCount = 1000)
    val (topCn, leaves) = treeTwin("vec_tbig", 1000)
    val viaOp = Similarity.treeDescend(
      emb.select(col("vec_id").as("id"), col("embedding")), "id",
      topCn, leaves)
      .select(col("id"), col("list_id")).collect()
      .map(r => r.getLong(0) -> r.get(1).toString).toMap
    val viaStore = VecStore
      .withAssignment(spark, emb.select(col("vec_id"), col("embedding")),
        "vec_tbig")
      .select(col("vec_id"), col("list_id")).collect()
      .map(r => r.getLong(0) -> r.get(1).toString).toMap
    assert(viaStore.nonEmpty && viaStore == viaOp)
    assert(VecStore.ivfTopK(spark, "vec_tbig",
      batch.select(col("vec_id"), col("embedding")).limit(5),
      k = 3, nProbe = 2, nProbeTop = 5).count() > 0)
  }

  test("tree store: served search equals Similarity.ivfTreeTopK, pruned") {
    dropStore("vec_tsearch")
    VecStore.init(spark, "vec_tsearch", stored, col("label"), buckets = 4,
      treeTopCount = 3)
    val queries = batch.select(col("vec_id"), col("embedding")).limit(10)
      .localCheckpoint()
    val viaStore = VecStore.ivfTopK(spark, "vec_tsearch", queries,
      k = 5, nProbe = 3, nProbeTop = 2)
      .collect().map(_.toString).sorted.toSeq
    val viaOp = Similarity.ivfTreeTopK(
      stored.select(col("vec_id"), col("embedding")), queries,
      VecStore.centroids(spark, "vec_tsearch"), k = 5,
      topCount = 3, nProbeTop = 2, nProbe = 3)
      .collect().map(_.toString).sorted.toSeq
    assert(viaStore.nonEmpty && viaStore == viaOp)
    // the corpus scan stays partition-pruned under the tree probes
    val plan = VecStore.ivfTopK(spark, "vec_tsearch", queries,
      5, 3, 2).queryExecution.executedPlan.toString
    val scans = plan.split("\n").filter(_.contains("FileScan parquet"))
    assert(scans.nonEmpty && scans.forall(_.contains("list_id#")),
      s"tree search scans must partition-prune on list_id:\n${scans.mkString("\n")}")
  }

  test("tree store: near-dup verdicts equal the tree twin; pop leaves tree faces") {
    dropStore("vec_tdup")
    VecStore.init(spark, "vec_tdup", stored, col("label"), buckets = 4,
      treeTopCount = 3)
    val viaStore = verdictMap(VecStore.nearDupVerdicts(
      spark, "vec_tdup",
      batch.select(col("vec_id"), col("embedding")), minCos = 0.35))
    val (topCn, leaves) = treeTwin("vec_tdup", 3)
    val storedA = Similarity.treeDescend(
      stored.select(col("vec_id"), col("embedding")), "vec_id",
      topCn, leaves).localCheckpoint()
    val batchA = Similarity.treeDescend(
      batch.select(col("vec_id").as("new_vec_id"), col("embedding")),
      "new_vec_id", topCn, leaves).localCheckpoint()
    val viaTwin = verdictMap(
      Dedup.crossVerdicts(storedA, batchA, minCos = 0.35,
        maxList = 10000))
    assert(viaStore.nonEmpty && viaStore == viaTwin)
    // takedown through the tree faces: a popped stored id disappears
    // from the probe and the served search, compact keeps the tree
    val victim = viaStore.collectFirst {
      case (_, (_, true, Some(dupOf), _)) => dupOf.toLong
    }.getOrElse(stored.select(col("vec_id")).head().getLong(0))
    import spark.implicits._
    VecStore.pop(spark, "vec_tdup", Seq(victim).toDF("vec_id"))
    val after = VecStore.nearDupVerdicts(spark, "vec_tdup",
      batch.select(col("vec_id"), col("embedding")), minCos = 0.35)
      .filter(col("dup_of") === lit(victim)).count()
    assert(after == 0, "popped id still serving as dup_of")
    val hits = VecStore.ivfTopK(spark, "vec_tdup",
      batch.select(col("vec_id"), col("embedding")).limit(10),
      k = 5, nProbe = 3, nProbeTop = 2)
      .filter(col("neighbor_id") === victim).count()
    assert(hits == 0, "popped id still served by tree search")
    VecStore.compact(spark, "vec_tdup")
    assert(spark.catalog.tableExists("vec_tdup_tops"),
      "compact must keep the tree quantizer")
    assert(VecStore.readFinal(spark, "vec_tdup")
      .filter(col("vec_id") === victim).count() == 0)
  }

  test("tree store: PQ serves through the tree probe path") {
    dropStore("vec_tpq")
    VecStore.init(spark, "vec_tpq", stored, col("label"), buckets = 4,
      treeTopCount = 3)
    VecStore.trainPqCodebook(spark, "vec_tpq", numSub = 8,
      codebookK = 8, dims = 64)
    val queries = batch.select(col("vec_id"), col("embedding")).limit(5)
      .localCheckpoint()
    val a = VecStore.ivfPqTopK(spark, "vec_tpq", queries, k = 5,
      nProbe = 3, nProbeTop = 2)
    val rows = a.collect()
    assert(rows.nonEmpty)
    val storedIds = stored.select(col("vec_id")).collect()
      .map(_.getLong(0)).toSet
    rows.foreach { r =>
      assert(storedIds.contains(r.getLong(1)),
        "PQ answer must be a stored id")
    }
    // deterministic across calls (the codebook and tree are persisted)
    val b = VecStore.ivfPqTopK(spark, "vec_tpq", queries, k = 5,
      nProbe = 3, nProbeTop = 2).collect()
    assert(rows.map(_.toString).sorted.sameElements(
      b.map(_.toString).sorted))
    // the exact re-rank floor: the PQ answer's true top-1 neighbor
    // per query must appear in the tree-served exact search's top-5
    // for a solid share of queries (shortlist re-rank recall)
    val exact = VecStore.ivfTopK(spark, "vec_tpq", queries, k = 5,
      nProbe = 3, nProbeTop = 2)
      .select(col("query_id"), col("neighbor_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val pqTop = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    val overlap = (exact & pqTop).size.toDouble / math.max(exact.size, 1)
    assert(overlap > 0.0,
      s"PQ-through-tree found none of the exact tree answers ($overlap)")
  }

  // the degenerate shapes of a production deployment: an empty ingest
  // batch, an empty query set, and an uninitialized store
  test("degenerate inputs: empty batch/query frames answer empty, missing store refuses loudly") {
    import spark.implicits._
    dropStore("vec_degen")
    VecStore.init(spark, "vec_degen", stored, col("label"), buckets = 4)
    val empty = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    assert(VecStore.nearDupVerdicts(spark, "vec_degen", empty, 0.35)
      .count() == 0)
    assert(VecStore.ivfTopK(spark, "vec_degen", empty, k = 5).count() == 0)
    // appending an empty batch is a no-op, not an error
    val n = VecStore.readFinal(spark, "vec_degen").count()
    VecStore.append(spark, empty, "vec_degen")
    assert(VecStore.readFinal(spark, "vec_degen").count() == n)
    // a store that was never initialized refuses loudly
    intercept[Exception] {
      VecStore.nearDupVerdicts(spark, "vec_degen_missing",
        stored.select(col("vec_id"), col("embedding")), 0.35).count()
    }
  }

  test("store-served IVF+PQ equals the operator on stored artifacts; codes follow appends") {
    dropStore("vec_pqserve")
    VecStore.init(spark, "vec_pqserve", stored, col("label"), buckets = 4)
    VecStore.trainPqCodebook(spark, "vec_pqserve")
    val queries = batch.select(col("vec_id"), col("embedding")).limit(10)
      .localCheckpoint()
    val viaStore = VecStore.ivfPqTopK(spark, "vec_pqserve", queries,
      k = 5, nProbe = 3).collect().map(_.toString).sorted.toSeq
    val storedFinal = VecStore.readFinal(spark, "vec_pqserve")
    val viaOp = Similarity.ivfPqTopK(
      storedFinal.select(col("vec_id"), col("embedding")), queries,
      VecStore.centroids(spark, "vec_pqserve"), k = 5, nProbe = 3,
      codebook = Some(VecStore.codebook(spark, "vec_pqserve")),
      corpusLists = Some(
        storedFinal.select(col("vec_id"), col("list_id"))))
      .collect().map(_.toString).sorted.toSeq
    assert(viaStore.nonEmpty && viaStore == viaOp)
    // the codes cache prunes to the probed lists like every store scan
    val plan = VecStore.ivfPqTopK(spark, "vec_pqserve", queries, 5, 3)
      .queryExecution.executedPlan.toString
    val codeScans = plan.split("\n")
      .filter(l => l.contains("FileScan parquet") &&
        l.contains("vec_pqserve_codes"))
    assert(codeScans.nonEmpty && codeScans.forall(_.contains("list_id#")),
      s"codes scans must partition-prune:\n${codeScans.mkString("\n")}")
    // append AFTER the codebook exists double-inserts codes — the new
    // vector is PQ-searchable immediately (8 code rows at 8 subspaces)
    val extra = batch.limit(1)
      .select((col("vec_id") + 500000).as("vec_id"), col("embedding"))
    VecStore.append(spark, extra, "vec_pqserve")
    assert(VecStore.codes(spark, "vec_pqserve")
      .filter(col("vec_id") >= 500000).count() == 8)
    // a retrain is also a rebuild of the codes (staged swap) — serving
    // keeps working and the hashes stay in step
    VecStore.trainPqCodebook(spark, "vec_pqserve")
    assert(VecStore.ivfPqTopK(spark, "vec_pqserve", queries, 5, 3)
      .count() > 0)
    // compact rebuilds the codes cache too: replay the corpus, compact,
    // and the cache holds exactly one code row per (vec, sub)
    VecStore.append(spark,
      stored.select(col("vec_id"), col("embedding")), "vec_pqserve")
    val nVec = VecStore.readFinal(spark, "vec_pqserve").count()
    VecStore.compact(spark, "vec_pqserve")
    assert(VecStore.read(spark, "vec_pqserve").count() == nVec)
    assert(VecStore.codes(spark, "vec_pqserve").count() == nVec * 8,
      "compact must rebuild the codes cache deduplicated")
    assert(VecStore.ivfPqTopK(spark, "vec_pqserve", queries, 5, 3)
      .count() > 0)
    // simulate the crashed-retrain state: a NEW codebook lands in _pq
    // but the codes were never re-encoded — serving must refuse
    // LOUDLY, never silently ADC against mismatched codewords
    val cb2 = Similarity.trainPqCodebook(
      stored.limit(30).select(col("vec_id"), col("embedding")))
      .withColumn("cb_hash", lit("simulated-crash-hash"))
    cb2.write.mode("overwrite").format("parquet")
      .saveAsTable("vec_pqserve_pq")
    // the guard now fires inside the ADC scan (assert_true folded into
    // the code column — zero extra jobs), so the message arrives
    // wrapped in the job failure chain
    val e = intercept[Exception] {
      VecStore.ivfPqTopK(spark, "vec_pqserve", queries, 5, 3).count()
    }
    def chain(t: Throwable): String =
      if (t == null) "" else t.getMessage + "|" + chain(t.getCause)
    assert(chain(e).contains("different codebook"))
  }

  // the crash state between trainPqCodebook's two writes: a codebook
  // without its codes cache — appending would CREATE a cache holding
  // only the batch, which PQ serving would silently treat as the
  // whole corpus; the write path must refuse with the repair instead
  test("append refuses when the codebook exists without its codes cache") {
    dropStore("vec_nocodes")
    VecStore.init(spark, "vec_nocodes", stored, col("label"), buckets = 4)
    VecStore.trainPqCodebook(spark, "vec_nocodes")
    TableSwap.dropManaged(spark, "vec_nocodes_codes")
    val e = intercept[IllegalArgumentException] {
      VecStore.append(spark,
        batch.select(col("vec_id"), col("embedding")), "vec_nocodes")
    }
    assert(e.getMessage.contains("rerun trainPqCodebook"))
    // the named repair restores appendability
    VecStore.trainPqCodebook(spark, "vec_nocodes")
    VecStore.append(spark,
      batch.select(col("vec_id"), col("embedding")), "vec_nocodes")
    assert(VecStore.codes(spark, "vec_nocodes")
      .select(col("vec_id")).distinct().count() ==
      VecStore.readFinal(spark, "vec_nocodes").count())
  }

  // r11: the takedown path. A popped vector must leave EVERY serving
  // face immediately (tombstone anti-join), drop physically — codes
  // rows included — at compact, and stay popped across a re-delivered
  // append (sticky until compaction, the right-to-be-forgotten shape)
  test("pop: takedown leaves every face, compact drops rows AND codes, tombstones retire") {
    import spark.implicits._
    dropStore("vec_pop")
    VecStore.init(spark, "vec_pop", stored, col("label"), buckets = 4)
    VecStore.trainPqCodebook(spark, "vec_pop")
    val queries = batch.select(col("vec_id"), col("embedding")).limit(10)
      .localCheckpoint()
    def neighbors(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select(col("neighbor_id")).collect().map(_.getLong(0)).toSet
    // pick a vector that currently SERVES, so exclusion is observable
    val victim = VecStore.ivfTopK(spark, "vec_pop", queries, k = 5,
      nProbe = 3).select(col("neighbor_id")).head().getLong(0)
    val popped = VecStore.pop(spark, "vec_pop", Seq(victim).toDF("vec_id"))
    assert(popped.collect().map(_.getLong(0)).toSet == Set(victim))
    val n = stored.count()
    assert(VecStore.readFinal(spark, "vec_pop").count() == n - 1)
    // excluded from every serving face BEFORE any compaction
    assert(!neighbors(VecStore.ivfTopK(spark, "vec_pop", queries, 5, 3))
      .contains(victim))
    assert(!neighbors(VecStore.ivfPqTopK(spark, "vec_pop", queries, 5, 3))
      .contains(victim))
    assert(!VecStore.nearDupVerdicts(spark, "vec_pop",
        batch.select(col("vec_id"), col("embedding")), minCos = 0.35)
      .collect().flatMap(r => Option(r.get(3)).map(_.toString))
      .contains(victim.toString))
    // sticky: a re-delivered copy of the popped vector stays hidden
    // (and its freshly-appended code rows die at compact below)
    VecStore.append(spark,
      popped.select(col("vec_id"), col("embedding")), "vec_pop")
    assert(VecStore.readFinal(spark, "vec_pop").count() == n - 1)
    // compact: vector row and its 8 code rows physically gone, the
    // counts reconcile (codes = 8 per surviving vector), dels retired
    VecStore.compact(spark, "vec_pop")
    assert(VecStore.read(spark, "vec_pop").count() == n - 1)
    assert(VecStore.codes(spark, "vec_pop").count() == (n - 1) * 8)
    assert(VecStore.codes(spark, "vec_pop")
      .filter(col("vec_id") === victim).count() == 0)
    assert(!spark.catalog.tableExists("vec_pop_dels"))
    assert(!neighbors(VecStore.ivfPqTopK(spark, "vec_pop", queries, 5, 3))
      .contains(victim))
    // after compaction the id is free to ingest again
    VecStore.append(spark,
      popped.select(col("vec_id"), col("embedding")), "vec_pop")
    assert(VecStore.readFinal(spark, "vec_pop").count() == n)
  }

  // r12: the out-of-band compaction split — the DocStore
  // compactStage/compactFinish contract on the vector store, where the
  // heavy half is TWO corpus-sized passes (FINAL dedup + full _codes
  // re-encode). The stage builds against live tables that keep taking
  // appends and pops; finish pays only the delta catch-up + metadata
  // swaps. Mid-build pops stay sticky (their tombstones outlive the
  // swap), mid-build appends survive via the file-list delta with the
  // EXACT list assignment the append gave them, and a quiet second
  // stage/finish pair retires everything.
  test("staged compact: mid-build appends and pops survive, codes stay consistent") {
    import spark.implicits._
    dropStore("vec_cstage")
    VecStore.init(spark, "vec_cstage", stored, col("label"), buckets = 4)
    VecStore.trainPqCodebook(spark, "vec_cstage")
    // bloat: a full re-delivery; then a pre-stage takedown
    VecStore.append(spark, stored.select(col("vec_id"), col("embedding")),
      "vec_cstage")
    val queries = batch.select(col("vec_id"), col("embedding")).limit(10)
      .localCheckpoint()
    def neighbors(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select(col("neighbor_id")).collect().map(_.getLong(0)).toSet
    val victim1 = VecStore.ivfTopK(spark, "vec_cstage", queries, 5, 3)
      .select(col("neighbor_id")).head().getLong(0)
    VecStore.pop(spark, "vec_cstage", Seq(victim1).toDF("vec_id"))
    val n = stored.count()
    val b = batch.count()
    val st = VecStore.compactStage(spark, "vec_cstage")
    // MID-BUILD: a fresh batch lands and a second id is taken down
    VecStore.append(spark, batch.select(col("vec_id"), col("embedding")),
      "vec_cstage")
    val victim2 = stored.filter(col("vec_id") =!= victim1)
      .select(col("vec_id")).head().getLong(0)
    VecStore.popIds(spark, "vec_cstage", Seq(victim2).toDF("vec_id"))
    VecStore.compactFinish(spark, "vec_cstage", st)
    // FINAL: stored − both victims + the mid-build batch
    assert(VecStore.readFinal(spark, "vec_cstage").count() == n - 2 + b)
    // the swap deduped the re-delivery and physically dropped victim1
    // (its tombstone predates the stage snapshot); victim2's landed
    // mid-build, so it is retained and keeps filtering reads
    assert(VecStore.read(spark, "vec_cstage").count() == n - 1 + b)
    assert(spark.catalog.tableExists("vec_cstage_dels"))
    // codes followed the swap: 8 rows per physical vector, the
    // mid-build batch's rows re-encoded by the delta catch-up
    assert(VecStore.codes(spark, "vec_cstage").count() == (n - 1 + b) * 8)
    // every serving face answers and excludes both victims
    val pq = neighbors(VecStore.ivfPqTopK(spark, "vec_cstage", queries, 5, 3))
    assert(pq.nonEmpty && !pq.contains(victim1) && !pq.contains(victim2))
    assert(!neighbors(VecStore.ivfTopK(spark, "vec_cstage", queries, 5, 3))
      .contains(victim2))
    // a QUIET stage/finish pair: victim2 drops physically, tombstones
    // retire, counts reconcile exactly
    VecStore.compactFinish(spark, "vec_cstage",
      VecStore.compactStage(spark, "vec_cstage"))
    assert(!spark.catalog.tableExists("vec_cstage_dels"))
    assert(VecStore.read(spark, "vec_cstage").count() == n - 2 + b)
    assert(VecStore.codes(spark, "vec_cstage").count() == (n - 2 + b) * 8)
    assert(neighbors(VecStore.ivfPqTopK(spark, "vec_cstage", queries, 5, 3))
      .nonEmpty)
  }

  // r12: the in-place mode upgrade — init's treeTopCount implies a
  // re-ingest; treeify opts a POPULATED flat store into tree mode
  // (train over the stored leaves, re-assign the corpus through the
  // descent, rebuild codes) and untreeify reverses it. Both idempotent,
  // both leave a store migrate finds healthy.
  test("treeify: populated flat store opts into tree mode in place; untreeify reverses") {
    dropStore("vec_tify")
    VecStore.init(spark, "vec_tify", stored, col("label"), buckets = 4)
    VecStore.trainPqCodebook(spark, "vec_tify")
    val n = stored.count()
    val acts = VecStore.treeify(spark, "vec_tify", topCount = 3)
    assert(acts.size == 2, acts.mkString("; "))
    assert(spark.catalog.tableExists("vec_tify_tops") &&
      spark.catalog.tableExists("vec_tify_leafmap"))
    // every stored row now lives in its tree-chosen list (twin parity —
    // treeQuantizer is choice-deterministic, so the re-trained twin IS
    // the persisted tree)
    val (topCn, leaves) = treeTwin("vec_tify", 3)
    val viaOp = Similarity.treeDescend(
      stored.select(col("vec_id").as("id"), col("embedding")), "id",
      topCn, leaves)
      .select(col("id"), col("list_id")).collect()
      .map(r => r.getLong(0) -> r.get(1).toString).toMap
    VecStore.read(spark, "vec_tify")
      .select(col("vec_id"), col("list_id")).collect()
      .foreach(r => assert(viaOp(r.getLong(0)) == r.get(1).toString))
    // serving is tree-exact; codes followed the moved lists
    val queries = batch.select(col("vec_id"), col("embedding")).limit(10)
      .localCheckpoint()
    val viaStore = VecStore.ivfTopK(spark, "vec_tify", queries,
      k = 5, nProbe = 3, nProbeTop = 2)
      .collect().map(_.toString).sorted.toSeq
    val viaTreeOp = Similarity.ivfTreeTopK(
      stored.select(col("vec_id"), col("embedding")), queries,
      VecStore.centroids(spark, "vec_tify"), k = 5,
      topCount = 3, nProbeTop = 2, nProbe = 3)
      .collect().map(_.toString).sorted.toSeq
    assert(viaStore.nonEmpty && viaStore == viaTreeOp)
    assert(VecStore.codes(spark, "vec_tify").count() == n * 8)
    assert(VecStore.ivfPqTopK(spark, "vec_tify", queries, 5, 3)
      .count() > 0)
    // healthy upgraded store: migrate schedules nothing; re-treeify
    // is a no-op
    assert(VecStore.migrate(spark, "vec_tify").isEmpty)
    assert(VecStore.treeify(spark, "vec_tify", 3).isEmpty)
    // reverse: flat again — assignment ≡ the flat argmax, physically
    assert(VecStore.untreeify(spark, "vec_tify").size == 2)
    assert(!spark.catalog.tableExists("vec_tify_tops") &&
      !spark.catalog.tableExists("vec_tify_leafmap"))
    val flat = Similarity.nearestLists(
      stored.select(col("vec_id"), col("embedding")),
      Similarity.centNorms(VecStore.centroids(spark, "vec_tify")),
      "vec_id", keep = 1)
      .select(col("vec_id"), col("list_id")).collect()
      .map(r => r.getLong(0) -> r.get(1).toString).toMap
    VecStore.read(spark, "vec_tify")
      .select(col("vec_id"), col("list_id")).collect()
      .foreach(r => assert(flat(r.getLong(0)) == r.get(1).toString))
    assert(VecStore.codes(spark, "vec_tify").count() == n * 8)
    assert(VecStore.untreeify(spark, "vec_tify").isEmpty)
    assert(VecStore.migrate(spark, "vec_tify").isEmpty)
  }

  // the drift monitor's exactness anchor: when the corpus IS the seed
  // set (16 vectors), every subvector cluster holds exactly its seed,
  // the Lloyd mean equals the member, and the residual is exactly 0 —
  // and any disjoint extra vector makes it strictly positive
  // r12: the generation-tolerant retrain. The old trainPqCodebook
  // order (overwrite _pq, then rebuild codes) has a window in which
  // ivfPqTopK REFUSES (new codebook, old codes); retrainPqStaged must
  // have none: a transient two-generation _pq resolves by the CODES'
  // stamp, the codes swap is the atomic commit, and the old generation
  // prunes after. A crash between steps leaves a serving state that
  // migrate (or the next retrain) cleans.
  test("staged retrain: no refusal window, crash state serves old, migrate prunes") {
    dropStore("vec_retrain")
    VecStore.init(spark, "vec_retrain", stored, col("label"), buckets = 4)
    VecStore.trainPqCodebook(spark, "vec_retrain")
    val queries = batch.select(col("vec_id"), col("embedding")).limit(5)
      .localCheckpoint()
    def hash(): String = spark.table("vec_retrain_pq")
      .select(col("cb_hash")).distinct()
      .collect().map(_.getString(0)).sorted.mkString(",")
    def serve(): Seq[String] =
      VecStore.ivfPqTopK(spark, "vec_retrain", queries, k = 3, nProbe = 2)
        .collect().map(_.toString).sorted.toSeq
    val h0 = hash()
    val s0 = serve()
    assert(s0.nonEmpty)
    // ---- simulate the mid-retrain crash state: a SECOND generation
    // appended into _pq while the codes still carry the old stamp ----
    import org.apache.spark.sql.SaveMode
    val fake = spark.table("vec_retrain_pq")
      .withColumn("cw", org.apache.spark.sql.functions.transform(
        col("cw"), x => x * lit(0.5)))
      .withColumn("cb_hash", lit("deadbeef" * 4))
      .localCheckpoint()
    fake.write.mode(SaveMode.Append).format("parquet")
      .saveAsTable("vec_retrain_pq")
    assert(spark.table("vec_retrain_pq").select(col("cb_hash"))
      .distinct().count() == 2L)
    // serving resolves the OLD generation from the codes' stamp —
    // same answers, NO refusal
    assert(serve() == s0, "two-generation _pq must serve old-consistent")
    // append still works mid-crash-state (stamps resolve the same way)
    val extra = batch.limit(1)
      .select((col("vec_id") + 700000).as("vec_id"), col("embedding"))
    VecStore.append(spark, extra, "vec_retrain")
    assert(VecStore.codes(spark, "vec_retrain")
      .filter(col("vec_id") >= 700000)
      .select(col("cb_hash")).distinct()
      .collect().map(_.getString(0)).toSeq == Seq(h0),
      "mid-crash append must stamp with the SERVING generation")
    // ---- migrate prunes the leftover generation ----
    val actions = VecStore.migrate(spark, "vec_retrain")
    assert(actions.exists(_.contains("pruned stale codebook")),
      s"migrate must report the pruned generation: $actions")
    assert(hash() == h0, "the serving generation must survive the prune")
    // ---- a real staged retrain after the corpus changed ----
    VecStore.append(spark,
      batch.limit(20).select((col("vec_id") + 800000).as("vec_id"),
        col("embedding")), "vec_retrain")
    VecStore.retrainPqStaged(spark, "vec_retrain")
    val h1 = hash()
    assert(h1 != h0 && !h1.contains(","),
      s"retrain must land exactly one NEW generation: $h1")
    assert(VecStore.codes(spark, "vec_retrain")
      .select(col("cb_hash")).distinct()
      .collect().map(_.getString(0)).toSeq == Seq(h1),
      "codes must be uniformly re-stamped under the new generation")
    assert(serve().nonEmpty)
    // ---- unchanged corpus: retrain is a no-op, never a duplicate ----
    val rowsBefore = spark.table("vec_retrain_pq").count()
    VecStore.retrainPqStaged(spark, "vec_retrain")
    assert(hash() == h1 &&
      spark.table("vec_retrain_pq").count() == rowsBefore,
      "an unchanged-corpus retrain must change nothing")
  }

  test("pq quantization error: zero on the seed corpus, positive past it") {
    import spark.implicits._
    val seeds = (0 until 16).map { i =>
      (i.toLong, Array.tabulate(64)(d =>
        (math.sin(i * 64 + d + 1) * 0.3).toFloat))
    }.toDF("vec_id", "embedding")
    val zero = Similarity.pqQuantizationError(
      seeds, Similarity.trainPqCodebook(seeds)).head().getDouble(0)
    assert(zero == 0.0)
    val extra = seeds.unionByName(Seq(
      (99L, Array.tabulate(64)(d => (math.cos(d * 7 + 1) * 0.3).toFloat)))
      .toDF("vec_id", "embedding"))
    val pos = Similarity.pqQuantizationError(
      extra, Similarity.trainPqCodebook(seeds)).head().getDouble(0)
    assert(pos > 0.0)
  }

  test("probe plan: corpus partition-pruned, one shuffle, no corpus exchange") {
    dropStore("vec_plan")
    VecStore.init(spark, "vec_plan", stored, col("label"), buckets = 4)
    // probe with ONE vector: the scan must prune to its single list
    val one = emb.filter(col("vec_id") === 0)
      .select(col("vec_id"), col("embedding"))
    val plan = VecStore.nearDupVerdicts(spark, "vec_plan", one, 0.35)
      .queryExecution.executedPlan.toString
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).length +
      "Exchange rangepartitioning".r.findAllIn(plan).length
    assert(shuffles <= 1,
      s"probe should cost exactly one verdict exchange, got $shuffles:\n$plan")
    // the stored side arrives via broadcast joins on list_id — the
    // corpus scan feeds them directly (no SortMergeJoin on the store)
    assert(!plan.contains("SortMergeJoin"),
      s"corpus side must not sort-merge:\n$plan")
    // static partition pruning: every corpus FileScan carries the
    // probed-list predicate — the probe reads nProbe lists, never the
    // corpus (the dynamic-pruning rule was measured not firing here,
    // so the literal IN filter is load-bearing)
    val scans = plan.split("\n").filter(_.contains("FileScan parquet"))
    assert(scans.nonEmpty && scans.forall(_.contains("list_id#")),
      s"corpus scans must partition-prune on list_id:\n${scans.mkString("\n")}")
    assert(plan.contains("InMemoryFileIndex(1 paths)"),
      s"one-list probe must read exactly one partition:\n$plan")
  }
}
