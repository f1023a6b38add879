package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, Multimodal, Similarity, TextAnalysis}

/** Specs for the LLM-pipeline operator blocks (SURVEY.md §2 d/s/t/m)
  * on sf0.001 plus targeted synthetic cases for the semantics the
  * driver's rows-only gate doesn't hash-check.
  */
class PipelineSpec extends AnyFunSuite {
  import SparkTestSession._

  private lazy val docs = Tables.load(spark, sf, "documents")
  private lazy val emb = Tables.load(spark, sf, "embeddings")

  /** t15/p5 registry faces space-join their id arrays (driver checker
    * can't sort array cells) — parse the string form back.
    */
  private def parseIds(s: String): Vector[Long] =
    if (s.isEmpty) Vector.empty else s.split(' ').map(_.toLong).toVector

  test("d1 exact dedup: identical normalized texts share a canonical id") {
    import spark.implicits._
    val df = Seq(
      (1L, "Hello  World", "s"), (2L, "hello world", "s"), (3L, "other", "s"))
      .toDF("doc_id", "text", "source")
    val out = Dedup.exact(df).collect().map(r =>
      r.getLong(0) -> r.getLong(1)).toMap
    assert(out(1L) == 1L && out(2L) == 1L && out(3L) == 3L)
  }

  test("d2 jaccard: identical docs score 1.0, disjoint docs absent") {
    import spark.implicits._
    val df = Seq(
      (1L, "a b c", "s"), (2L, "a b c", "s"), (3L, "x y z", "s"))
      .toDF("doc_id", "text", "source")
    val rows = Dedup.ngramJaccard(df, 0.5).collect()
    assert(rows.length == 1)
    assert(rows(0).getLong(0) == 1L && rows(0).getLong(1) == 2L)
    assert(rows(0).getDouble(2) == 1.0)
  }

  test("d9 containment: quoted subset scores 1.0 where jaccard misses it") {
    import spark.implicits._
    // doc 2 is doc 1 quoted whole inside 3× more text: containment 1.0
    // but jaccard 5/20 = 0.25 — invisible to d2 at any sane threshold
    val quote = "alpha bravo charlie delta echo"
    val long = quote + " " + (1 to 15).map(i => s"filler$i").mkString(" ")
    val df = Seq((1L, quote, "s"), (2L, long, "s"),
      (3L, "unrelated words entirely different content here", "s"))
      .toDF("doc_id", "text", "source")
    val rows = Dedup.containmentPairs(df, 0.8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows.toSeq == Seq((1L, 2L, 1.0)))
    assert(Dedup.ngramJaccard(df, 0.8).collect().isEmpty,
      "jaccard at the same threshold must miss the quote pair")
  }

  test("d9 prefix filter is lossless vs brute force on random corpora") {
    import spark.implicits._
    val vocab = (1 to 12).map(i => s"w$i")
    val rnd = new scala.util.Random(42)
    val texts = (1 to 40).map { i =>
      val sz = 1 + rnd.nextInt(8)
      (i.toLong, rnd.shuffle(vocab).take(sz).mkString(" "),
        if (i % 2 == 0) "a" else "b")
    }
    val df = texts.toDF("doc_id", "text", "source")
    val got = Dedup.containmentPairs(df, 0.7).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // brute force over every same-source pair
    val docs = texts.map { case (id, t, src) =>
      (id, src, t.split(" ").toSet) }
    val want = (for {
      a <- docs; b <- docs
      if a._2 == b._2 && a._1 < b._1
      inter = (a._3 intersect b._3).size
      c = inter.toDouble / math.min(a._3.size, b._3.size)
      if c >= 0.7
    } yield (a._1, b._1,
      BigDecimal(c).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
      .toSet
    assert(got == want, s"missing=${want -- got} extra=${got -- want}")
  }

  test("d3 hot-bucket guard engages on an all-identical corpus") {
    import spark.implicits._
    // the adversarial dedup shape: N byte-identical docs put ALL of
    // them in every band bucket — without the cutoff that's an O(N²)
    // expansion out of one bucket
    val df = (1L to 50L).map(i =>
      (i, "same exact words repeated in every single document here", "s"))
      .toDF("doc_id", "text", "source")
    assert(Dedup.minhashLsh(df, maxBucket = 10).collect().isEmpty,
      "buckets past the cutoff must drop entirely")
    assert(Dedup.minhashLsh(df, maxBucket = 100).count() == 50L * 49 / 2,
      "with headroom the same corpus yields every pair exactly once")
  }

  test("d3 minhash-lsh: exact duplicates always collide; has candidates on sf") {
    import spark.implicits._
    val dup = Seq(
      (1L, "one two three four five six", "s"),
      (2L, "one two three four five six", "s"))
      .toDF("doc_id", "text", "source")
    val pairs = Dedup.minhashLsh(dup).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).contains((1L, 2L)))
    assert(Dedup.minhashLsh(docs).count() >= 0) // runs end-to-end on sf
  }

  test("d3 native minhash expression == functions._ form on sf docs") {
    import graft.operators.Dedup
    val sh = Dedup.shingles3(col("text"))
    val diff = docs.filter(size(Dedup.words(col("text"))) >= 3)
      .select(
        Dedup.minhashSignature(sh, 12).as("native"),
        Dedup.minhashSignatureExpr(sh, 12).as("expr"))
      .filter(col("native") =!= col("expr"))
    assert(diff.count() == 0)
  }

  test("t5 contamination: only n-gram-overlapping corpus docs hit") {
    import spark.implicits._
    val probes = Seq((1L, "alpha beta gamma delta epsilon"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      (10L, "x alpha beta gamma delta epsilon y"), // contains the probe 5-gram
      (11L, "alpha beta gamma zeta eta theta"),    // only a 3-gram prefix
      (12L, "unrelated words entirely here now"))
      .toDF("doc_id", "text")
    val hits = TextAnalysis.contamination(corpus, probes, n = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hits == Map(10L -> 1L))
    // 3-grams catch the partial-prefix doc too
    val hits3 = TextAnalysis.contamination(corpus, probes, n = 3)
      .collect().map(r => r.getLong(0)).toSet
    assert(hits3 == Set(10L, 11L))
  }

  test("t5 bloom pushdown: corpus grams pruned pre-join, answer identical") {
    val probes = docs.filter(col("doc_id") < 50)
    val corpus = docs.filter(col("doc_id") >= 50)
    val default = TextAnalysis.contamination(corpus, probes, n = 5)
    // Some(true) forces the over-broadcast-comfort regime
    val bloomed = TextAnalysis.contamination(corpus, probes, n = 5,
      bloom = Some(true))
    val plan = bloomed.queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"),
      s"bloom filter not planted in the corpus gram stream:\n$plan")
    // exact join removes bloom false positives — answers bit-identical
    assert(bloomed.exceptAll(default).isEmpty &&
      default.exceptAll(bloomed).isEmpty)
    // the auto gate follows the planner's broadcast decision: with the
    // broadcast budget at zero (web-scale regime for the probe set)
    // the bloom must engage on its own
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "-1")
      val auto = TextAnalysis.contamination(corpus, probes, n = 5)
      assert(auto.queryExecution.executedPlan.toString
        .contains("might_contain"), "auto gate did not engage")
    } finally spark.conf.set(key, prev)
    // and in the broadcast regime the default path carries NO bloom
    assert(!default.queryExecution.executedPlan.toString
      .contains("might_contain"))
  }

  test("d6 near-dup clusters: transitive chain collapses, singleton maps to itself") {
    import spark.implicits._
    // doc 1 == doc 2 (exact dup → same signature → same buckets) and
    // doc 2 == doc 3, so {1,2,3} must form ONE cluster canonicalized
    // to 1 even if LSH never directly paired (1,3); doc 4 is disjoint
    val df = Seq(
      (1L, "one two three four five six", "s"),
      (2L, "one two three four five six", "s"),
      (3L, "one two three four five six", "s"),
      (4L, "alpha beta gamma delta epsilon zeta", "s"))
      .toDF("doc_id", "text", "source")
    val out = Dedup.nearDupClusters(df).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(out(1L) == (1L, false))
    assert(out(2L) == (1L, true))
    assert(out(3L) == (1L, true))
    assert(out(4L) == (4L, false))
    // pipeline contract: exactly one representative per cluster
    assert(out.values.count(!_._2) == 2)
  }

  test("d4b banded hamming search == brute-force popcount pairs on sf docs") {
    import org.apache.spark.sql.functions.bit_count
    // the pigeonhole banding is lossless for hamming ≤ 3: the bucketed
    // search must return EXACTLY the brute-force pair set
    val sigs = Dedup.simhash(docs)
    val l = sigs.select(col("doc_id").as("left_id"), col("simhash").as("ls"))
    val r = sigs.select(col("doc_id").as("right_id"), col("simhash").as("rs"))
    val brute = l.crossJoin(r)
      .filter(col("left_id") < col("right_id"))
      .filter(bit_count(col("ls").bitwiseXOR(col("rs"))) <= 3)
      .select(col("left_id"), col("right_id"))
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    val banded = Dedup.simhashNearDup(docs, maxHamming = 3)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(banded == brute)
    assertThrows[IllegalArgumentException] {
      Dedup.simhashNearDup(docs, maxHamming = 6) // 7 doesn't divide 60
    }
  }

  test("d4 native simhash expression == functions._ form on sf docs") {
    import graft.operators.Dedup
    val native = Dedup.simhash(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaExpr = Dedup.simhashExpr(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(native == viaExpr)
  }

  test("d4 simhash: equal texts equal signatures; near texts near hamming") {
    import spark.implicits._
    val df = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),
      (3L, "alpha beta gamma delta epsilon eta"),
      (4L, "q w e r t y u i o p")).toDF("doc_id", "text")
    val sig = Dedup.simhash(df).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    assert(sig(1L) == sig(2L))
    assert(hamming(sig(1L), sig(3L)) < hamming(sig(1L), sig(4L)))
  }

  test("d5 embedding near-dup: identical vectors cos=1, orthogonal absent") {
    import spark.implicits._
    val df = Seq(
      (1L, Array(1f, 0f, 0f), 0), (2L, Array(1f, 0f, 0f), 0),
      (3L, Array(0f, 1f, 0f), 0), (4L, Array(1f, 0f, 0f), 1))
      .toDF("vec_id", "embedding", "label")
    val rows = Dedup.embeddingNearDup(df, 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows.toSeq == Seq((1L, 2L, 1.0))) // label blocks 1-4 pairing
  }

  test("d5 maxBlock guard: hot label dropped, in-range labels exact") {
    import spark.implicits._
    // label 9 has 20 members > maxBlock=10 — at 100 TB this is the
    // unbounded O(n²) label; the cutoff drops it entirely (same
    // blocking semantics as xrefBlocks' maxEntities). label 0 stays.
    val hot = Seq.tabulate(20)(i => ((100 + i).toLong, Array(1f, 0f), 9))
    val df = (Seq(
      (1L, Array(1f, 0f), 0), (2L, Array(1f, 0f), 0),
      (3L, Array(0.8f, 0.6f), 0)) ++ hot)
      .toDF("vec_id", "embedding", "label")
    val guarded = Dedup.embeddingNearDup(df, 0.5, maxBlock = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(guarded == Set((1L, 2L), (1L, 3L), (2L, 3L)))
    // under the cutoff the guarded path is pair-for-pair the naive join
    val naive = df.as("l").join(df.as("r"), col("l.label") === col("r.label")
        && col("l.vec_id") < col("r.vec_id"))
      .filter(Dedup.cosine(col("l.embedding"), col("r.embedding")) >= 0.5)
      .select(col("l.vec_id"), col("r.vec_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(Dedup.embeddingNearDup(df, 0.5, maxBlock = 1000)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet == naive)
  }

  test("d5 worst-task pair bound: expansion is chunk-balanced in the plan") {
    // the quadratic expansion must go through the chunk-descriptor
    // rebalance (r15 form: descriptors sliced to their two chunks and
    // repartitioned on (lc, rc)) so no single task streams a whole
    // block's n² pairs — the same shape f8/d3 pin
    val plan = PipelineQueries.d5DedupEmbedding(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("hashpartitioning(lc"),
      s"d5 must rebalance chunk descriptors before expanding:\n$plan")
  }

  test("s1 brute top-k: self excluded, ranks contiguous, cos descending") {
    val out = PipelineQueries.s1AnnBruteTopk(spark, sf)
      .orderBy(col("query_id"), col("rank")).collect()
    assert(out.nonEmpty)
    val byQ = out.groupBy(_.getLong(0))
    byQ.foreach { case (q, rs) =>
      assert(rs.map(_.getLong(3)).toSeq == (1L to rs.length))
      assert(rs.forall(_.getLong(1) != q))
      val cs = rs.map(_.getDouble(2)).toSeq
      assert(cs == cs.sorted.reverse)
    }
  }

  test("s1 two-phase salted top-k == single-window top-k") {
    import org.apache.spark.sql.expressions.Window
    import graft.operators.{Dedup, Similarity}
    // independent single-window reference plan over the same scores
    val e = emb
    val q = e.filter(col("vec_id") < 10).select(
      col("vec_id").as("query_id"), col("embedding").as("qv"))
    val c = e.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    val single = c.crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", Dedup.cosine(col("qv"), col("cv")))
      .withColumn("rank", row_number().over(w).cast("bigint"))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("neighbor_id"),
        round(col("cos"), 6).as("cos"), col("rank"))
      .collect().map(_.toSeq).toSet
    val twoPhase = Similarity.bruteTopK(e, e.filter(col("vec_id") < 10), k = 5)
      .collect().map(_.toSeq).toSet
    assert(twoPhase == single)
  }

  test("s10 range search == driver-side exact radius recompute") {
    val vecs = emb.select(col("vec_id"), col("embedding"))
      .collect().map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    def r(x: Double, p: Int): Double =
      BigDecimal(x).setScale(p, BigDecimal.RoundingMode.HALF_UP).toDouble
    val want = (for {
      (qid, qv) <- vecs.toSeq if qid < 10
      (nid, nv) <- vecs.toSeq if nid != qid
      c = cos(qv, nv) if r(c, 4) >= 0.35
    } yield (qid, nid, r(c, 6))).toSet
    val got = PipelineQueries.s10RangeSearch(spark, sf)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getDouble(2))).toSet
    assert(got.nonEmpty, "radius query returned nothing at sf0.001")
    assert(got == want, s"range membership differs: ${got.diff(want)} / ${want.diff(got)}")
  }

  test("t17 bm25: exact lattice recompute on sf0.001, idf ordering") {
    val terms = Seq("window", "merge", "stream")
    def nb(x: Long): Long =
      math.round(math.log(x.toDouble) / math.log(2.0) * 1e9)
    val docsW = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0),
        r.getString(1).toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq))
    val nDocs = docsW.length.toLong
    val nWords = docsW.map(_._2.length.toLong).sum
    val avgl = nWords / nDocs
    val dfm = terms.map(t =>
      t -> docsW.count(_._2.contains(t)).toLong).toMap
    val want = docsW.flatMap { case (id, ws) =>
      val hits = terms.flatMap { t =>
        val tf = ws.count(_ == t).toLong
        if (tf == 0) None else {
          val idf = nb(2 * nDocs - 2 * dfm(t) + 1) - nb(2 * dfm(t) + 1)
          val len = ws.length.toLong
          Some(idf * 22 * tf * avgl /
            (10 * tf * avgl + 3 * avgl + 9 * len))
        }
      }
      if (hits.isEmpty) None
      else Some(id -> ((hits.length.toLong, hits.sum)))
    }.toMap
    val got = PipelineQueries.t17Bm25(spark, sf)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(got.nonEmpty && got == want, "bm25 lattice mismatch")
    // idf sanity: a strictly rarer term carries a strictly higher idf
    val idfs = terms.map(t =>
      dfm(t) -> (nb(2 * nDocs - 2 * dfm(t) + 1) - nb(2 * dfm(t) + 1)))
    idfs.combinations(2).foreach { case Seq((dfa, ia), (dfb, ib)) =>
      if (dfa < dfb) assert(ia > ib) else if (dfa > dfb) assert(ia < ib)
    }
  }

  test("t17 bm25: over-bound tf*avgl REFUSES loudly (no silent BIGINT wrap)") {
    import graft.operators.TextAnalysis
    import spark.implicits._
    // tf·avgl past ~6.5e6 would wrap idf_nb·22·tf·avgl in BIGINT where
    // DuckDB widens — the guard must fail the job with its message,
    // never return a wrapped score. doc1: tf=4000 of the query term;
    // doc2 pads avgl to 8000 → tf·avgl = 3.2e7 > 6.5e6.
    val docs = Seq(
      (1L, Array.fill(4000)("x").mkString(" ")),
      (2L, Array.fill(12000)("y").mkString(" "))).toDF("doc_id", "text")
    val e = intercept[Exception] {
      TextAnalysis.bm25(docs, Seq("x")).collect()
    }
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ chain(t.getCause)
    assert(chain(e).exists(_.contains("lattice overflow guard")),
      s"expected the refuse-loudly guard, got: ${chain(e).mkString(" | ")}")
    // in-bound corpus passes through the guard with the exact lattice
    // score (hand recompute: tf=100, len=4000, avgl from both docs)
    val okDocs = Seq(
      (1L, (Array.fill(100)("x") ++ Array.fill(3900)("z")).mkString(" ")),
      (2L, Array.fill(12000)("y").mkString(" "))).toDF("doc_id", "text")
    def nb(x: Long): Long =
      math.round(math.log(x.toDouble) / math.log(2.0) * 1e9)
    val avgl = 16000L / 2
    val idf = nb(2 * 2 - 2 * 1 + 1) - nb(2 * 1 + 1)
    val want = idf * 22 * 100 * avgl / (10 * 100 * avgl + 3 * avgl + 9 * 4000)
    val got = TextAnalysis.bm25(okDocs, Seq("x")).collect()
    assert(got.length == 1 && got(0).getLong(2) == want,
      "guarded in-bound bm25 must equal the exact lattice recompute")
  }

  test("s2 window-lag dedup == distinct + single-window reference plan") {
    import org.apache.spark.sql.expressions.Window
    import graft.operators.{Dedup, Similarity}
    // reference formulation: explicit distinct() then one window
    val numPlanes = 8
    val e = emb
    val c = e.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"),
      Similarity.hyperplaneSignature(col("embedding"), numPlanes)
        .as("bucket"))
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        Similarity.hyperplaneSignature(col("embedding"), numPlanes)
          .as("sig"))
      .select(col("query_id"), col("qv"),
        explode(concat(array(col("sig")),
          transform(sequence(lit(0), lit(numPlanes - 1)),
            p => col("sig").bitwiseXOR(pow(lit(2.0), p).cast("long")))))
          .as("bucket"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    val reference = c.join(broadcast(q), Seq("bucket"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", Dedup.cosine(col("qv"), col("cv")))
      .select(col("query_id"), col("neighbor_id"), col("cos")).distinct()
      .withColumn("rank", row_number().over(w).cast("bigint"))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("neighbor_id"),
        round(col("cos"), 6).as("cos"), col("rank"))
      .collect().map(_.toSeq).toSet
    val actual = Similarity.lshTopK(e, e.filter(col("vec_id") < 10),
      k = 5, numPlanes = numPlanes).collect().map(_.toSeq).toSet
    assert(actual == reference)
  }

  test("s2 lsh ann: recall@5 vs s1 is sane and output shape matches") {
    val exact = PipelineQueries.s1AnnBruteTopk(spark, sf)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = PipelineQueries.s2AnnLsh(spark, sf)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall > 0.0, s"LSH found none of the exact top-k ($recall)")
  }

  test("s3 ivf ann: centroid count matches labels; recall vs s1 is sane") {
    val cents = graft.operators.Similarity.centroids(emb, col("label"))
    assert(cents.count() == emb.select("label").distinct().count())
    val exact = PipelineQueries.s1AnnBruteTopk(spark, sf)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = PipelineQueries.s3AnnIvf(spark, sf)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & ivf).size.toDouble / exact.size
    assert(recall > 0.0, s"IVF found none of the exact top-k ($recall)")
  }

  test("s7 tree ivf: tree sound, assignment agrees with flat, recall holds") {
    import graft.operators.Similarity
    val cents = Similarity.centroids(emb, col("label"))
    val nLeaves = cents.count()
    val (tops, leafMap) = Similarity.treeQuantizer(cents, topCount = 3)
    // structure: min(3, L) tops; every leaf maps to exactly one
    // EXISTING top (the tree partitions the leaves)
    val topIds = tops.select("top_id").collect().map(_.getLong(0)).toSet
    assert(topIds.size.toLong == math.min(3L, nLeaves))
    val lm = leafMap.collect()
      .map(r => r.get(0).toString -> r.getLong(1))
    assert(lm.length.toLong == nLeaves, "leafMap must cover every leaf once")
    assert(lm.forall(p => topIds.contains(p._2)))
    // the tree descent is approximate vs the flat argmax only at
    // subtree boundaries — on the labeled corpus the two must agree on
    // a solid majority of assignments (BASELINE.md records the rate
    // at L = 100/1000)
    val corpus = emb.select(col("vec_id").as("id"), col("embedding"))
    val flat = Similarity.nearestLists(
      corpus, Similarity.centNorms(cents), "id", 1)
      .select(col("id"), col("list_id")).collect()
      .map(r => r.getLong(0) -> r.get(1).toString).toMap
    val leaves = broadcast(cents
      .withColumn("leaf_n",
        sqrt(Dedup.dot(col("centroid"), col("centroid"))))
      .join(leafMap, Seq("list_id")))
    val topCn = Similarity.centNorms(
      tops.select(col("top_id").as("list_id"), col("centroid")))
    val treeAssigned = Similarity.nearestLists(corpus, topCn, "id", 1)
      .select(col("id"), col("list_id").as("top_id"), col("embedding"),
        col("__n"))
      .join(leaves, Seq("top_id"))
      .withColumn("d", round(Dedup.cosineWithNorms(col("embedding"),
        col("centroid"), col("__n"), col("leaf_n")), 4))
      .groupBy(col("id"))
      .agg(min_by(col("list_id"),
        struct((-col("d")).as("nd"), col("list_id"))).as("list_id"))
      .collect().map(r => r.getLong(0) -> r.get(1).toString).toMap
    assert(treeAssigned.keySet == flat.keySet)
    val agree = flat.count { case (id, l) => treeAssigned(id) == l }
    assert(agree.toDouble / flat.size >= 0.5,
      s"tree assignment agrees on only $agree/${flat.size}")
    // end-to-end recall vs the exact baseline
    val exact = PipelineQueries.s1AnnBruteTopk(spark, sf)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val tree = PipelineQueries.s7AnnIvfTree(spark, sf)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & tree).size.toDouble / exact.size
    assert(recall > 0.0, s"tree IVF found none of the exact top-k ($recall)")
    // the serving floor: over an (nProbeTop, nProbe) sweep, the best
    // operating point must reach 0.85 recall@5 against brute force for
    // 50 queries (the floor BASELINE.md's 2M-vector, 10k-list decade
    // was held to)
    val queries = emb.filter(col("vec_id") < 50)
      .select(col("vec_id"), col("embedding"))
    def neighbors(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.select("query_id", "neighbor_id").collect()
        .groupBy(_.getLong(0))
        .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val truth = neighbors(Similarity.bruteTopK(
      emb.select(col("vec_id"), col("embedding")), queries, 5))
    val sweep = Seq((1, 3), (2, 3), (4, 3), (2, 8), (4, 12)).map {
      case (npt, np) =>
        val got = neighbors(Similarity.ivfTreeTopK(emb, queries, cents,
          k = 5, topCount = 3, nProbeTop = npt, nProbe = np))
        truth.map { case (q, t) =>
          got.get(q).map(g => (g & t).size.toDouble / t.size).getOrElse(0.0)
        }.sum / truth.size
    }
    assert(sweep.max >= 0.85, s"no swept operating point reaches 0.85: $sweep")
  }

  test("s7 tree training: the driver trainer makes its declarative twin's choices") {
    import graft.operators.{Fixpoint, Similarity}
    import org.apache.spark.sql.{DataFrame, Row}
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val rnd = new scala.util.Random(17)
    // dyadic components (quarters) sum exactly in any order, so many
    // cosines tie exactly at 4dp; uniform doubles exercise the rounding
    def vec(dim: Int, dyadic: Boolean): Array[Double] = Array.fill(dim)(
      if (dyadic) (rnd.nextInt(9) - 4) / 4.0 else rnd.nextDouble() * 2 - 1)
    def ids(n: Int, ints: Boolean): Seq[Any] =
      if (ints) rnd.shuffle((0 until 1000).toList).take(n).map(Int.box)
      else Seq.tabulate(n)(j => s"${rnd.nextInt(100000)}-$j")
    // hand-made: (1,1,0) ties exactly between the seeds (1,0,0) and
    // (0,1,0), and the zero vector's NaN cosines send it to top 0
    val fixed = (IntegerType: DataType, 2, Seq[(Any, Array[Double])](
      (Int.box(1), Array(1.0, 0.0, 0.0)), (Int.box(2), Array(0.0, 1.0, 0.0)),
      (Int.box(3), Array(1.0, 1.0, 0.0)), (Int.box(4), Array(0.0, 0.0, 0.0))))
    // the zero-norm leaf sorts last and never seeds (see the twin call)
    val random = (0 until 12).map { i =>
      val dim = 3 + rnd.nextInt(4)
      val base = Seq.fill(1 + rnd.nextInt(10))(vec(dim, i % 2 == 0))
      // a duplicate leaf ties with its twin
      val cs = base :+ base.head.clone()
      val ints = i % 3 != 0
      if (i % 4 == 3)
        (if (ints) IntegerType else StringType, cs.size + rnd.nextInt(3),
          ids(cs.size, ints).zip(cs))
      else
        (if (ints) IntegerType else StringType, 1 + rnd.nextInt(cs.size),
          (ids(cs.size, ints) :+ (if (ints) Int.box(1000) else "~zero"))
            .zip(cs :+ Array.fill(dim)(0.0)))
    }
    for (((idType, topCount, leaves), i) <- (fixed +: random).zipWithIndex) {
      val cents = spark.createDataFrame(
        leaves.map { case (id, c) => Row(id, c.toSeq) }.asJava,
        StructType(Seq(StructField("list_id", idType),
          StructField("centroid", ArrayType(DoubleType)))))
      val (tops, leafMap) = Similarity.treeQuantizer(cents, topCount)
      // the twin scores a zero norm null, and a leaf whose every score
      // is null ties across all tops exactly as NaN scores tie in the
      // driver trainer (lowest top_id)
      val (twinTops, twinMap) = TreeTrainingTwin.treeQuantizer(cents, topCount)
      def typed(df: DataFrame) = df.schema.map(f => f.name -> f.dataType)
      def mapOf(df: DataFrame) =
        df.collect().map(r => r.get(0) -> r.getLong(1)).toMap
      def topsOf(df: DataFrame) =
        df.collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
      try {
        assert(typed(tops) == typed(twinTops) && typed(leafMap) == typed(twinMap))
        assert(mapOf(leafMap) == mapOf(twinMap), s"trial $i: leaf maps differ")
        val (got, want) = (topsOf(tops), topsOf(twinTops))
        assert(got.keySet == want.keySet, s"trial $i: top ids differ")
        for ((t, c) <- got) {
          assert(c.length == want(t).length)
          for ((a, b) <- c.zip(want(t)))
            assert(math.abs(a - b) <= 1e-12 * math.max(math.abs(a), math.abs(b)),
              s"trial $i top $t: $a vs $b")
        }
      } finally Seq(twinTops, twinMap).foreach(Fixpoint.release)
    }
  }

  test("s7 ivfTreeTopK starts no job beyond its leaf-centroid collect") {
    import graft.operators.Similarity
    import org.apache.spark.graftspec.Bus
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    def jobsDuring(f: => Unit): Int = {
      Bus.drain(sc)
      jobs.set(0)
      f
      Bus.drain(sc)
      jobs.get
    }
    // a fresh frame per call: a re-collected frame reuses its finished
    // adaptive plan and starts fewer jobs
    def cents() = Similarity.centroids(emb, col("label"))
    sc.addSparkListener(listener)
    try {
      val collect = jobsDuring(cents().collect())
      assert(collect > 0)
      assert(jobsDuring(Similarity.ivfTreeTopK(emb,
        emb.filter(col("vec_id") < 10), cents(), k = 5, topCount = 3)) == collect)
    } finally sc.removeSparkListener(listener)
  }

  test("centroidsAgg: single-shuffle native vec_sum matches posexplode form") {
    import graft.operators.Similarity
    def byList(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        r.get(0).toString -> r.getSeq[Double](1)).toMap
    val declarative = byList(Similarity.centroids(emb, col("label")))
    val native = byList(Similarity.centroidsAgg(emb, col("label")))
    assert(native.keySet == declarative.keySet)
    for ((k, d) <- declarative; (a, b) <- d.zip(native(k)))
      assert(math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(a)),
        s"list $k drifted: $a vs $b")
    // the point of the native aggregate: ONE shuffle (groupBy with
    // map-side combine) instead of the exploded form's two, and no
    // |rows|·dim explode feeding the first one
    val plan = Similarity.centroidsAgg(emb, col("label"))
      .queryExecution.executedPlan.toString
    assert("(?<!Broadcast)(?<!Reused)Exchange".r.findAllIn(plan).length == 1,
      s"centroidsAgg should shuffle once:\n$plan")
    assert(!plan.contains("Generate"), s"no explode expected:\n$plan")
  }

  test("s4 quantize: error bounded by sc/2, degenerate vector exact, recall holds") {
    import spark.implicits._
    // the round-to-nearest-code bound is exact: |err| ≤ sc/2 per dim
    val out = Similarity.quantize(emb).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (sc, maxErr) = (r.getDouble(2), r.getDouble(4))
      assert(maxErr <= sc / 2 + 1e-6,
        s"vec ${r.getLong(0)}: max_abs_err $maxErr > sc/2 ${sc / 2}")
    }
    // a constant vector quantizes exactly (scale 0, zero error)
    val const = Seq((99L, Array(0.5f, 0.5f, 0.5f), 0))
      .toDF("vec_id", "embedding", "label")
    val c = Similarity.quantize(const).collect().head
    assert(c.getDouble(2) == 0.0 && c.getDouble(3) == 0.0 &&
      c.getDouble(4) == 0.0)
    // int8 reconstruction preserves neighborhood structure: top-5 by
    // reconstructed-vector cosine recalls ≥80% of the exact top-5
    // (the spec that makes "4× smaller at tolerable recall" a claim
    // with a number instead of folklore)
    val recon = emb.select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("v"))
      .select(col("vec_id"), array_min(col("v")).as("mn"),
        ((array_max(col("v")) - array_min(col("v"))) / lit(255.0)).as("sc"),
        col("v"))
      .select(col("vec_id"), transform(col("v"), x =>
        // sc = 0 (constant vector) must reconstruct exactly, not NaN —
        // mirrors the guard inside Similarity.quantize
        when(col("sc") > 0,
          col("mn") + round((x - col("mn")) / col("sc")) * col("sc"))
          .otherwise(x).cast("float")).as("embedding"),
        lit(0).as("label"))
    val exact = Similarity.bruteTopK(emb, emb.filter(col("vec_id") < 10), 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val quant = Similarity.bruteTopK(recon,
      recon.filter(col("vec_id") < 10), 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect quant).size.toDouble / exact.size
    assert(recall >= 0.8, s"int8 top-5 recall $recall < 0.8")
  }

  test("s5 pq ann: shape exact, re-ranked cos is true cosine, recall holds") {
    val out = PipelineQueries.s5AnnPq(spark, sf).collect()
    // 10 queries × full rank 1..5 each — the ADC shortlist (50 ≥ 5)
    // always leaves enough candidates to fill the top-k
    assert(out.length == 50)
    val byQ = out.groupBy(_.getLong(0))
    assert(byQ.size == 10 &&
      byQ.values.forall(_.map(_.getLong(3)).sorted.sameElements(1L to 5L)))
    // the re-rank stage outputs TRUE cosine (codes pick candidates,
    // never the reported score): recompute from the raw vectors
    val vecs = emb.select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("v"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    def cosOf(a: Long, b: Long): Double = {
      val (x, y) = (vecs(a), vecs(b))
      val d = x.zip(y).map { case (p, q) => p * q }.sum
      d / (math.sqrt(x.map(p => p * p).sum) * math.sqrt(y.map(p => p * p).sum))
    }
    out.foreach { r =>
      val want = cosOf(r.getLong(0), r.getLong(1))
      assert(math.abs(r.getDouble(2) - want) <= 1e-6,
        s"pair (${r.getLong(0)}, ${r.getLong(1)}): " +
          s"reported ${r.getDouble(2)} vs true $want")
    }
    // recall@5 vs the exact baseline: 8-byte codes (32× smaller than
    // the float vectors) prune 500 → 50 candidates per query and the
    // exact re-rank recovers ≥3/4 of the true top-k — measured 0.84 on
    // this data, where pure-ADC ranking manages only ~0.26
    val exact = PipelineQueries.s1AnnBruteTopk(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq = out.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & pq).size.toDouble / exact.size
    assert(recall >= 0.75, s"PQ top-5 recall $recall < 0.75")
  }

  test("s6 IVF+PQ: exact reported cosines, recall vs brute force") {
    val out = PipelineQueries.s6AnnIvfPq(spark, sf).collect()
    assert(out.nonEmpty)
    // every query returns k rows with rank 1..5 and valid cosines
    val perQuery = out.groupBy(_.getLong(0))
    perQuery.values.foreach { rs =>
      assert(rs.map(_.getLong(3)).sorted.toSeq == (1L to rs.length).toSeq)
      rs.foreach(r => assert(r.getDouble(2) <= 1.0 + 1e-9))
    }
    // re-rank reports TRUE cosines (unit-dot) — same contract as s5
    val vecs = Tables.load(spark, sf, "embeddings").select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("v"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    def cosOf(a: Long, b: Long): Double = {
      val (x, y) = (vecs(a), vecs(b))
      val d = x.zip(y).map { case (p, q) => p * q }.sum
      d / (math.sqrt(x.map(p => p * p).sum) * math.sqrt(y.map(p => p * p).sum))
    }
    out.foreach { r =>
      assert(math.abs(r.getDouble(2) - cosOf(r.getLong(0), r.getLong(1))) <= 1e-6)
    }
    // recall@5 vs exact: the coarse lists discard whole partitions of
    // the corpus BEFORE PQ sees them, so s6 trades recall for probe
    // volume vs s5 — the floor asserts the trade stays sane
    val exact = PipelineQueries.s1AnnBruteTopk(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = out.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & got).size.toDouble / exact.size
    assert(recall >= 0.5, s"IVF+PQ top-5 recall $recall < 0.5")
  }

  // r11: the scaled-shortlist rule. The r10 operating grid measured
  // recall pinned at ~0.40 by the FIXED shortlist at sf1 scale; the
  // shortlist axis measured the probed/8 recovery knee (0.992 at
  // 200/1600). This spec holds the rule's arithmetic and the recall
  // floor AT THE AUTO DEFAULT on a deterministic sf1-scale corpus
  // (20k vectors, 10 clusters — generated, so the suite needs no
  // regenerated testdata-sf1 directory).
  test("scaled shortlist: probed/8 rule, sf1-scale recall floor at the auto default") {
    // the rule's arithmetic (floor division, 50 floor, list guard)
    assert(Similarity.scaledShortlist(200, 1, 1) == 50)
    assert(Similarity.scaledShortlist(2000, 1, 1) == 250)
    assert(Similarity.scaledShortlist(20000, 10, 2) == 500)
    assert(Similarity.scaledShortlist(20000, 0, 2) == 5000,
      "a degenerate zero-list count must guard, not divide by zero")
    val n = 20000
    // hash-based uniforms (deterministic, partition-independent —
    // unlike randn — and phase-uncorrelated across ids, unlike sine
    // patterns): 10 random cluster centers plus per-vector noise
    def u(seed: org.apache.spark.sql.Column, d: org.apache.spark.sql.Column)
        : org.apache.spark.sql.Column =
      (pmod(xxhash64(seed, d), lit(2001)) - 1000).cast("double") / 1000.0
    val corpus = spark.range(n.toLong).select(
      col("id").as("vec_id"),
      transform(sequence(lit(1), lit(64)),
        d => (u(pmod(col("id"), lit(10)) + 100000, d) * lit(0.4) +
          u(col("id"), d) * lit(0.3)).cast("float"))
        .as("embedding"))
      .localCheckpoint()
    val queries = corpus.filter(col("vec_id") < 20).localCheckpoint()
    val cents = Similarity.centroids(corpus, pmod(col("vec_id"), lit(10)))
      .localCheckpoint()
    val truth = Similarity.bruteTopK(corpus, queries, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallOf(shortlist: Int): Double = {
      val got = Similarity.ivfPqTopK(corpus, queries, cents, k = 5,
        nProbe = 2, shortlist = shortlist)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (truth & got).size.toDouble / truth.size
    }
    val auto = recallOf(0)     // 0 = the scaled default (here 500)
    val fixed = recallOf(50)   // the pre-r11 constant
    // this corpus's uniform noise quantizes harder than the sf1
    // Gaussian clusters (where the probe read 0.992 at probed/8), so
    // the absolute floor is lower here; the rule's CLAIM — the scaled
    // default recovers most of what the fixed shortlist loses — is the
    // relative assertion
    assert(auto >= 0.7, s"recall at the scaled default $auto < 0.7")
    assert(auto >= fixed + 0.2,
      s"the scaled default ($auto) must recover well past fixed-50 ($fixed)")
  }

  test("t1 lang-id is deterministic and covers every doc") {
    val out = TextAnalysis.langId(docs).collect()
    assert(out.length == docs.count())
    assert(out.forall(r => Set("en", "de", "es", "fr", "und")(r.getString(2))))
  }

  test("t2 quality ratios bounded") {
    val bad = TextAnalysis.qualityScore(docs)
      .filter(col("punct_ratio") < 0 || col("punct_ratio") > 1 ||
        col("stopword_ratio") < 0 || col("stopword_ratio") > 1 ||
        col("avg_word_len") < 0)
    assert(bad.count() == 0)
  }

  test("t3 token counts: known sentence") {
    import spark.implicits._
    val df = Seq((1L, "Hello, world! 42 times")).toDF("doc_id", "text")
    val r = TextAnalysis.tokenCount(df).collect()(0)
    assert(r.getLong(1) == 4) // ws tokens
    assert(r.getLong(2) == 7) // Hello , world ! 4 2 times
  }

  test("t4 fingerprint stable under whitespace changes") {
    import spark.implicits._
    val df = Seq((1L, "a b  c d"), (2L, "a b c d")).toDF("doc_id", "text")
    val out = TextAnalysis.docFingerprint(df).collect()
    assert(out(0).getString(1) == out(1).getString(1))
    assert(out(0).getString(2) == out(1).getString(2))
  }

  test("m1 binary meta: byte length equals char length for ascii") {
    val out = Multimodal.binaryMeta(docs)
      .join(docs, "doc_id")
      .filter(col("n_bytes") =!= length(col("text")))
    assert(out.count() == 0)
  }

  test("m2 decodeFrames: partition-local decode contract with stub decoder") {
    import spark.implicits._
    val frames = Seq(
      Multimodal.Frame(1L, 0L, Array[Byte](1, 2, 3)),
      Multimodal.Frame(1L, 4L, Array[Byte](4, 5)))
      .toDS()
    // deterministic fake decoder: byte histogram head
    val out = Multimodal.decodeFrames(frames)(bs =>
      Array(bs.length.toFloat, bs.headOption.getOrElse(0: Byte).toFloat))
      .collect().sortBy(_.frame_idx)
    assert(out(0).feature.toSeq == Seq(3f, 1f))
    assert(out(1).feature.toSeq == Seq(2f, 4f))
  }

  test("m2 frame sampling: geometry is exact") {
    import spark.implicits._
    val text = "x" * 300 // 300 bytes → frames 0..4 of 64B; kept: 0, 4
    val df = Seq((1L, text)).toDF("doc_id", "text")
    val out = Multimodal.frameSample(df, frameBytes = 64, stride = 4)
      .orderBy("frame_idx").collect()
    assert(out.map(_.getLong(1)).toSeq == Seq(0L, 4L))
    assert(out(0).getLong(2) == 64) // full frame
    assert(out(1).getLong(2) == 300 - 4 * 64) // tail frame = 44 bytes
  }

  test("d7 stratified sample: deterministic, only target strata thin out") {
    import graft.operators.Sampling
    val in = docs.select(col("doc_id"), col("lang"), col("source"))
    def run() = Sampling.stratified(in, col("lang"), col("doc_id"),
      Map("en" -> 0.25))
    val a = run().collect().map(_.getLong(0)).sorted
    val b = run().collect().map(_.getLong(0)).sorted
    assert(a.sameElements(b)) // reproducible selection, not df.sample
    // non-target strata pass through untouched
    val nonEnIn = in.filter(col("lang") =!= "en").count()
    val nonEnOut = run().filter(col("lang") =!= "en").count()
    assert(nonEnOut == nonEnIn)
    // target stratum thins to ~rate (50 docs at sf0.001 → loose band)
    val enIn = in.filter(col("lang") === "en").count()
    val enOut = run().filter(col("lang") === "en").count()
    assert(enOut < enIn && enOut > 0)
  }

  test("t6 pii scrub: detects and redacts emails, IPs, phones") {
    import spark.implicits._
    val df = Seq(
      (1L, "mail bob.smith+x@corp.example.org or call 555-867-5309 now"),
      (2L, "server at 10.0.0.1 and 192.168.1.255 no pii else"),
      (3L, "clean text only")).toDF("doc_id", "text")
    val out = TextAnalysis.piiScrub(df).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getLong(1) == 1) // n_email
    assert(out(1L).getAs[String]("clean_text")
      == "mail <EMAIL> or call <PHONE> now")
    assert(out(2L).getLong(2) == 2) // n_ip
    assert(out(2L).getAs[String]("clean_text")
      == "server at <IP> and <IP> no pii else")
    assert(out(3L).getLong(1) == 0 && out(3L).getLong(2) == 0 &&
      out(3L).getLong(3) == 0)
    assert(out(3L).getAs[String]("clean_text") == "clean text only")
  }

  test("t6 pii scrub: phone-shaped digits inside an email don't double-count") {
    import spark.implicits._
    val df = Seq((1L, "x 555-123-4567@spam.example.com y"))
      .toDF("doc_id", "text")
    val r = TextAnalysis.piiScrub(df).collect()(0)
    assert(r.getAs[String]("clean_text") == "x <EMAIL> y")
  }

  test("t7 repetition: exact ratios on a crafted repeating doc") {
    import spark.implicits._
    val df = Seq(
      (1L, "a b a b a b"), // 2-grams: ab ba ab ba ab → 5 grams, 2 distinct
      (2L, "v w x y z"),   // all distinct
      (3L, "solo")).toDF("doc_id", "text") // no 2-grams
    val out = TextAnalysis.repetition(df).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getLong(1) == 5 && out(1L).getLong(2) == 2)
    assert(out(1L).getDouble(3) == 0.6) // (5-2)/5
    assert(out(1L).getDouble(4) == 0.6) // "a b" ×3 / 5
    assert(out(2L).getDouble(3) == 0.0 && out(2L).getDouble(4) == 0.25)
    assert(out(3L).getLong(1) == 0 && out(3L).getDouble(3) == 0.0)
  }

  test("t7 native bigram-stats == composed HOF form on sf docs") {
    // the native one-pass hash count must be value-identical to the
    // array_distinct + sorted-fold composition on every real document
    val native = TextAnalysis.repetition(docs)
    val composed = TextAnalysis.repetitionComposed(docs)
    assert(native.exceptAll(composed).isEmpty &&
      composed.exceptAll(native).isEmpty)
  }

  test("d3 fused minhash-words == two-step shingles+signature on sf docs") {
    import graft.functions.MinHashSignatureExpression
    val ws = Dedup.words(col("text"))
    val diff = docs.select(
      MinHashSignatureExpression.minhashWords(ws, 3, 12).as("fused"),
      Dedup.minhashSignature(Dedup.shinglesN(col("text"), 3), 12)
        .as("two_step"))
      .filter(col("fused") =!= col("two_step"))
    assert(diff.count() == 0)
  }

  test("d3 fused band keys == composed signature+slice form on sf docs") {
    import graft.functions.MinHashSignatureExpression
    val ws = Dedup.words(col("text"))
    // exact array equality (value AND band order): the fused kernel
    // must emit precisely what the pre-r8 two-stage projection built
    val diff = docs.filter(size(ws) >= 3).select(
      MinHashSignatureExpression.minhashBands(ws, 3, 12, 2).as("fused"),
      Dedup.minhashBandKeysComposed(ws, 3, 12, 2).as("composed"))
      .filter(col("fused") =!= col("composed"))
    assert(diff.count() == 0)
    // random unicode: exercise multi-byte tokens through the kernel
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val texts = (1 to 60).map { i =>
      (i.toLong, (1 to rnd.nextInt(30)).map(_ =>
        rnd.alphanumeric.take(rnd.nextInt(4) + 1).mkString +
          (if (rnd.nextBoolean()) "é漢" else "")).mkString(" "))
    }.toDF("doc_id", "text")
    val wd = Dedup.words(col("text"))
    val rdiff = texts.filter(size(wd) >= 3).select(
      MinHashSignatureExpression.minhashBands(wd, 3, 12, 3).as("fused"),
      Dedup.minhashBandKeysComposed(wd, 3, 12, 3).as("composed"))
      .filter(col("fused") =!= col("composed"))
    assert(rdiff.count() == 0)
  }

  test("d2 native token-hashes == composed distinct+md5+sort form on sf docs") {
    val diff = docs.select(
      graft.functions.TokenHashesExpression.tokenHashes(
        Dedup.words(col("text")), seed = 0).as("native"),
      Dedup.tokenHashesComposed(col("text")).as("composed"))
      .filter(col("native") =!= col("composed"))
    assert(diff.count() == 0)
  }

  test("native shingles == composed zip_with form on sf docs") {
    // exact array equality: distinct grams in first-occurrence order
    for (n <- Seq(2, 3, 5)) {
      val diff = docs.select(
        Dedup.shinglesN(col("text"), n).as("native"),
        Dedup.shinglesNComposed(col("text"), n).as("composed"))
        .filter(col("native") =!= col("composed"))
      assert(diff.count() == 0, s"n=$n diverges")
    }
  }

  test("t5 native ngram-hashes == composed shingle+md5 form on sf docs") {
    // same values in the same (first-occurrence) order, so plain array
    // equality — not just set equality — must hold on every document
    for (n <- Seq(2, 5)) {
      val native = docs.select(col("doc_id"),
        graft.functions.NgramHashesExpression.ngramHashes(
          Dedup.words(col("text")), n, seed = 0).as("hs"))
      val composed = TextAnalysis.hashedGramsComposed(docs, n)
      assert(native.exceptAll(composed).isEmpty &&
        composed.exceptAll(native).isEmpty, s"n=$n diverges")
    }
  }

  test("t8 distinctive terms: exclusive vocabulary tops its source by lift") {
    import spark.implicits._
    val df = Seq(
      (1L, "alpha shared", "sa"), (2L, "alpha shared", "sa"),
      (3L, "beta shared", "sb"), (4L, "beta shared", "sb"))
      .toDF("doc_id", "text", "source")
    val out = TextAnalysis.distinctiveTerms(df, k = 1).collect()
      .map(r => r.getString(0) -> r).toMap
    // alpha: in 2/2 of sa docs vs 2/4 corpus-wide → lift 2, beats
    // shared (lift 1); symmetric for beta
    assert(out("sa").getString(1) == "alpha")
    assert(out("sb").getString(1) == "beta")
    assert(out("sa").getDouble(4) == 2.0)
    assert(out("sa").getLong(3) == 1) // n_sources
  }

  test("t10 surprisal: uniform corpus scores ln(V), rare terms score higher") {
    import spark.implicits._
    // 4 docs over a 4-term uniform vocabulary: every term has p = 1/4,
    // so every doc's surprisal is exactly ln(4); a 5th doc introduces
    // a hapax (p = 1/9 after it joins) and must score strictly higher
    val uniform = Seq((1L, "aa bb", "s"), (2L, "cc dd", "s"),
      (3L, "aa cc", "s"), (4L, "bb dd", "s"))
      .toDF("doc_id", "text", "source")
    val u = graft.operators.TextAnalysis.unigramSurprisal(uniform)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val ln4 = BigDecimal(math.log(4))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(u.values.forall(_ == ln4), s"uniform corpus must score ln(4): $u")
    val withRare = uniform.union(
      Seq((5L, "zz", "s")).toDF("doc_id", "text", "source"))
    val r = graft.operators.TextAnalysis.unigramSurprisal(withRare)
      .collect().map(x => x.getLong(0) -> x.getDouble(2)).toMap
    assert(r(5L) > r(1L), "hapax doc must out-score common-term docs")
    // empty-text docs produce no tokens and no output row
    val withEmpty = uniform.union(
      Seq((9L, "   ", "s")).toDF("doc_id", "text", "source"))
    assert(graft.operators.TextAnalysis.unigramSurprisal(withEmpty)
      .filter(col("doc_id") === 9L).count() == 0)
  }

  test("t14 bigram surprisal: word order separates same-vocabulary docs, exact smoothed values") {
    import spark.implicits._
    // 5 docs in corpus-typical order + 1 with the SAME words shuffled:
    // c(the,cat) = c(cat,sat) = 5, c(cat,the) = c(the,sat) = 1,
    // c(the·) = c(cat·) = 6, V = 3 — every smoothed ratio is exact
    val docs = (1L to 4L).map(i => (i, "the cat sat", "s")) ++
      Seq((10L, "the cat sat", "s"), (11L, "cat the sat", "s"))
    val out = graft.operators.TextAnalysis.bigramSurprisal(
      docs.toDF("doc_id", "text", "source"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // typical order: both bigrams seen 5× → −ln((5+1)/(6+3)) each
    assert(out(10L) == ((2L, r6(math.log(9.0 / 6.0)))), s"$out")
    // shuffled: IDENTICAL unigram multiset, unseen bigrams →
    // −ln((1+1)/(6+3)) each — the separation t10 cannot see
    assert(out(11L) == ((2L, r6(math.log(9.0 / 2.0)))), s"$out")
    assert(out(11L)._2 > out(10L)._2)
    // docs with fewer than two tokens form no bigram and drop out
    val withShort = docs ++ Seq((8L, "solo", "s"), (9L, "   ", "s"))
    assert(graft.operators.TextAnalysis.bigramSurprisal(
        withShort.toDF("doc_id", "text", "source"))
      .filter(col("doc_id") === 8L || col("doc_id") === 9L)
      .count() == 0)
  }

  test("d8 keep-best: longest doc wins its cluster, ties break by id") {
    import spark.implicits._
    // {1,2,3} cluster via exact dup text (2 padded longer → the keeper
    // despite canonical label 1); {4} singleton keeps itself; {5,6}
    // equal length → smaller id 5 keeps
    val df = Seq(
      (1L, "one two three four five six", "s"),
      (2L, "one two three four five six padded", "s"),
      (3L, "one two three four five six", "s"),
      (4L, "alpha beta gamma delta epsilon zeta", "s"),
      (5L, "red green blue cyan magenta yellow", "s"),
      (6L, "red green blue cyan magenta yellow", "s"))
      .toDF("doc_id", "text", "source")
    val out = Dedup.keepBest(df, Dedup.nearDupClusters(df)).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(3))).toMap
    assert(out(2L) == (1L, true) && out(1L) == (1L, false) &&
      out(3L) == (1L, false))
    assert(out(4L) == (4L, true))
    assert(out(5L) == (5L, true) && out(6L) == (5L, false))
    // retention invariant: exactly one keeper per cluster
    assert(out.values.count(_._2) == 3)
  }

  // the d8 path a real pipeline runs: d6's cluster map is PERSISTED (it
  // feeds d8, the corpus report, and every retention audit), and
  // keepBest consumes the stored table — the fused registry form exists
  // so the oracle can gate end-to-end. The split must change nothing:
  // same verdicts through a parquet round-trip of the cluster map.
  // BASELINE.md records the cost split (tail 0.15s vs fused
  // 2.1s at sf0.1 — the tail is 7% of the fused query).
  test("d8 split API: keepBest over a stored cluster table equals fused") {
    val clusters = Dedup.nearDupClusters(docs, numHashes = 12,
      rowsPerBand = 2)
    val path = "/tmp/graft_d8_clusters_spec"
    clusters.write.mode("overwrite").parquet(path)
    val stored = spark.read.parquet(path)
    val fused = Dedup.keepBest(docs, clusters)
      .collect().map(_.toString).sorted.toSeq
    val split = Dedup.keepBest(docs, stored)
      .collect().map(_.toString).sorted.toSeq
    assert(fused.nonEmpty && fused == split)
  }

  test("d10 token budget: hash-ordered prefix kept, budget never exceeded") {
    import spark.implicits._
    val df = Seq(
      (1L, "a", 10L), (2L, "a", 10L), (3L, "a", 10L), (4L, "a", 10L),
      (5L, "b", 100L), (6L, "b", 1L)).toDF("doc_id", "source", "n_tokens")
    val out = graft.operators.Sampling.tokenBudget(
      df, "source", "doc_id", col("n_tokens"), budget = 25)
    val rows = out.collect()
    // every stratum stays inside the budget
    val bySrc = rows.groupBy(_.getString(1))
    bySrc.values.foreach { rs =>
      assert(rs.map(_.getLong(2)).sum <= 25)
    }
    // source a: exactly two 10-token docs fit; which two is the hash
    // order's choice, but the kept set must be a PREFIX of it
    assert(bySrc("a").length == 2)
    assert(bySrc("a").map(_.getLong(3)).sorted.sameElements(Seq(10L, 20L)))
    // source b: whichever doc hashes first decides — either the 1-token
    // doc alone (then 100 overflows) or nothing (100 first blocks 1
    // because the running sum is a prefix, not a knapsack)
    assert(!bySrc.contains("b") ||
      bySrc("b").map(_.getLong(0)).toSeq == Seq(6L))
  }

  test("d10 bucketed prefix sum == plain window on sf docs and random data") {
    import spark.implicits._
    val base = docs.select(col("doc_id"), col("source"),
      size(Dedup.words(col("text"))).cast("long").as("n_tokens"))
    for (budget <- Seq(100L, 600L, 100000L)) {
      val plain = graft.operators.Sampling.tokenBudget(
        base, "source", "doc_id", col("n_tokens"), budget)
      val bucketed = graft.operators.Sampling.tokenBudgetBucketed(
        base, "source", "doc_id", col("n_tokens"), budget, nBuckets = 64)
      assert(plain.exceptAll(bucketed).isEmpty &&
        bucketed.exceptAll(plain).isEmpty, s"budget=$budget")
    }
    // random strata/token sizes, tiny bucket count so many buckets
    // carry several rows and the frontier lands mid-bucket
    val rnd = new scala.util.Random(7)
    val rdf = (1 to 400).map { i =>
      (i.toLong, s"s${rnd.nextInt(5)}", rnd.nextInt(50).toLong)
    }.toDF("doc_id", "source", "n_tokens")
    val p = graft.operators.Sampling.tokenBudget(
      rdf, "source", "doc_id", col("n_tokens"), budget = 500)
    val b = graft.operators.Sampling.tokenBudgetBucketed(
      rdf, "source", "doc_id", col("n_tokens"), budget = 500, nBuckets = 8)
    assert(p.exceptAll(b).isEmpty && b.exceptAll(p).isEmpty)
  }

  test("p4 dataset mix: per-stratum budgets from weights, stratum-wise equal to tokenBudget") {
    import spark.implicits._
    val base = docs.select(col("doc_id"), col("source"),
      size(Dedup.words(col("text"))).cast("long").as("n_tokens"))
    val weights = Map("src0" -> 2.0, "src1" -> 1.0, "src2" -> 1.0)
    val mix = graft.operators.Sampling.datasetMix(
      base, "source", "doc_id", col("n_tokens"), weights,
      totalBudget = 1200, nBuckets = 8)
    val rows = mix.collect()
    // only mixed strata appear — the allowlist semantics
    assert(rows.map(_.getString(1)).toSet == Set("src0", "src1", "src2"))
    // each stratum's selection IS tokenBudget at its allocated share
    // (2:1:1 of 1200 → 600/300/300), and the emitted budget column
    // carries the allocation
    for ((src, b) <- Seq(("src0", 600L), ("src1", 300L), ("src2", 300L))) {
      val viaMix = rows.filter(_.getString(1) == src)
        .map(r => (r.getLong(0), r.getLong(3))).sorted.toSeq
      val viaBudget = graft.operators.Sampling.tokenBudget(
        base.filter(col("source") === src), "source", "doc_id",
        col("n_tokens"), budget = b)
        .collect().map(r => (r.getLong(0), r.getLong(3))).sorted.toSeq
      assert(viaMix == viaBudget, s"$src must match tokenBudget($b)")
      assert(rows.filter(_.getString(1) == src).forall(_.getLong(4) == b))
    }
    // weights are SHARES: uniform scaling changes nothing
    val scaled = graft.operators.Sampling.datasetMix(
      base, "source", "doc_id", col("n_tokens"),
      weights.map { case (k, v) => k -> v * 7.5 }, totalBudget = 1200,
      nBuckets = 8)
    assert(mix.exceptAll(scaled).isEmpty && scaled.exceptAll(mix).isEmpty)
  }

  test("p7 temperature mix: sqrt-derived budgets, stratum-wise equal to tokenBudget, flattening") {
    import spark.implicits._
    val base = docs.select(col("doc_id"), col("source"),
      size(Dedup.words(col("text"))).cast("long").as("n_tokens"))
    val mix = graft.operators.Sampling.temperatureMix(
      base, "source", "doc_id", col("n_tokens"),
      totalBudget = 1200, nBuckets = 8)
    val rows = mix.collect()
    // the derived budgets ARE the integer-exact w·B DIV Σw split of
    // the floored sqrt weights — recompute them independently
    val totals = base.groupBy(col("source"))
      .agg(org.apache.spark.sql.functions.sum(col("n_tokens")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val w = totals.view.mapValues(n => math.floor(math.sqrt(n.toDouble)).toLong).toMap
    val wSum = w.values.sum
    val expected = w.map { case (k, v) => k -> v * 1200L / wSum }
    for ((src, b) <- expected if b > 0) {
      assert(rows.filter(_.getString(1) == src).forall(_.getLong(4) == b),
        s"$src budget must be $b")
      // each stratum's selection IS tokenBudget at the derived budget
      val viaMix = rows.filter(_.getString(1) == src)
        .map(r => (r.getLong(0), r.getLong(3))).sorted.toSeq
      val viaBudget = graft.operators.Sampling.tokenBudget(
        base.filter(col("source") === src), "source", "doc_id",
        col("n_tokens"), budget = b)
        .collect().map(r => (r.getLong(0), r.getLong(3))).sorted.toSeq
      assert(viaMix == viaBudget, s"$src must match tokenBudget($b)")
    }
    // the FLATTENING property (why temperature sampling exists): on a
    // skewed corpus the head's budget share sits strictly between its
    // token share (τ=1) and the uniform share (τ=0)
    val skew = (1L to 90L).map(i => (i, "head", 100L)) ++
      (91L to 100L).map(i => (i, "tail", 10L))
    val sm = graft.operators.Sampling.temperatureMix(
      skew.toDF("doc_id", "source", "n_tokens"),
      "source", "doc_id", col("n_tokens"), totalBudget = 1000,
      nBuckets = 4)
    val budgets = sm.select(col("source"), col("budget")).distinct()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val headShare = budgets("head").toDouble / (budgets("head") + budgets("tail"))
    val tokenShare = 9000.0 / 9100.0 // ≈ 0.989
    assert(headShare < tokenShare && headShare > 0.5,
      s"temperature must flatten the head: $headShare vs $tokenShare")
  }

  test("t11 dup passages: cross-doc repeats found, within-doc repeats don't count") {
    import spark.implicits._
    // 3-grams, minDocs 2: "x y z" lives in docs 1, 2 AND twice in 1
    // (multiplicity must not inflate the doc count); "p q r" is unique
    val df = Seq(
      (1L, "x y z w x y z"), // distinct 3-grams incl. "x y z" (once)
      (2L, "a x y z b"),
      (3L, "p q r s t")).toDF("doc_id", "text")
    val out = TextAnalysis.dupPassages(df, n = 3, minDocs = 2).collect()
    val byPassage = out.map(r => r.getString(0) -> r).toMap
    assert(byPassage.contains("x y z"))
    assert(byPassage("x y z").getLong(1) == 2)
    assert(byPassage("x y z").getLong(2) == 1L)
    assert(!out.exists(_.getString(0) == "p q r"))
    // every reported passage really is in >= 2 docs
    assert(out.forall(_.getLong(1) >= 2))
  }

  test("t11 dup passages == brute-force distinct-gram counting on sf docs") {
    // the hash-count + example-doc text-recovery pipeline must equal
    // the direct (gram text all the way through) computation on every
    // real doc — with collision-free hashes the example doc's matching
    // gram IS the gram, so the direct grouping is the same answer
    val brute = docs
      .select(col("doc_id"), explode(Dedup.shinglesN(col("text"), 8)).as("g"))
      .groupBy(col("g"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("example_doc_id"))
      .filter(col("n_docs") >= 2)
      .select(col("g").as("passage"), col("n_docs"), col("example_doc_id"))
    val out = TextAnalysis.dupPassages(docs, n = 8, minDocs = 2)
    assert(out.exceptAll(brute).isEmpty && brute.exceptAll(out).isEmpty)
  }

  test("t9 chunking: window geometry, overlap, and tail are exact") {
    import spark.implicits._
    // 10 tokens, window 4, stride 3 → raw starts 0,3,6,9 — but the
    // start-9 chunk would be token t9 alone, FULLY contained in the
    // start-6 chunk (t6..t9), so it must be suppressed: a redundant
    // tail would inject duplicate training sequences (r8 review)
    val df = Seq((1L, "t0 t1 t2 t3 t4 t5 t6 t7 t8 t9", "s"),
      (2L, "   ", "s")).toDF("doc_id", "text", "source")
    val out = TextAnalysis.chunk(df, chunkTokens = 4, stride = 3)
      .collect().map(r => r.getLong(1) ->
        (r.getString(2), r.getLong(3))).toMap
    assert(out.size == 3)
    assert(out(0L) == ("t0 t1 t2 t3", 4L))
    assert(out(1L) == ("t3 t4 t5 t6", 4L)) // one-token overlap
    assert(out(2L) == ("t6 t7 t8 t9", 4L))
    // every token is covered by at least one chunk
    val covered = out.values.flatMap(_._1.split(" ")).toSet
    assert(covered == (0 to 9).map(i => s"t$i").toSet)
    // a short tail that DOES extend coverage still appears: 5 tokens,
    // starts 0 and 3, the 2-token tail reaches t4
    val tail = TextAnalysis.chunk(
      Seq((3L, "t0 t1 t2 t3 t4", "s")).toDF("doc_id", "text", "source"),
      chunkTokens = 4, stride = 3)
      .collect().map(r => r.getLong(1) -> (r.getString(2), r.getLong(3)))
      .toMap
    assert(tail == Map(0L -> ("t0 t1 t2 t3", 4L), 1L -> ("t3 t4", 2L)))
    // no chunk is ever fully contained in its predecessor
    assert(tail.values.forall(_._2 >= 1))
  }

  test("t9 chunking is a zero-shuffle scan fan-out") {
    val plan = TextAnalysis.chunk(docs, 64, 48)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"t9 must not shuffle — chunking is per-row fan-out:\n$plan")
  }

  test("d11 passage scrub removes mined passages everywhere, leaves the rest") {
    import spark.implicits._
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val passage = "p1 p2 p3 p4 p5 p6 p7 p8"
    val df = Seq(
      (1L, s"$passage tail one", "s"),
      (2L, s"head $passage", "s"),
      (3L, "a b c d e f g h i j", "s"),
      // case/whitespace variant: the scrub operates on normText, so
      // the mined gram is removed here too — a raw-text replace would
      // silently miss it (distinct leading word, so no NEW 8-gram
      // becomes shared through this doc)
      (4L, "intro  P1 p2 P3 p4 p5 p6 p7 P8", "s"))
      .toDF("doc_id", "text", "source")
    val got = TextAnalysis.passageScrub(df, n = 8, minDocs = 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2))))
      .toMap
    // the shared 8-gram is scrubbed from EVERY holder (one space left)
    assert(got(1L) == ((passage.length - 1).toLong,
      md5hex(s"$passage tail one".replace(passage, " "))))
    assert(got(2L) == ((passage.length - 1).toLong,
      md5hex(s"head $passage".replace(passage, " "))))
    assert(got(4L) == ((passage.length - 1).toLong,
      md5hex(s"intro $passage".replace(passage, " "))))
    // a doc holding no mined passage passes through byte-identical
    assert(got(3L) == ((0L, md5hex("a b c d e f g h i j"))))
  }

  test("t12 sequence packing: bucketed form equals the plain window, tiles exactly") {
    import graft.operators.Sampling
    import org.apache.spark.sql.expressions.Window
    val in = docs.select(col("doc_id"), col("source"),
      size(Dedup.words(col("text"))).cast("long").as("n_tokens"))
    val got = Sampling.sequencePack(in, "source", "doc_id",
      col("n_tokens"), seqTokens = 256)
    // plain single-window twin (the stratum-hot-spot form the bucketed
    // engine must agree with row-for-row)
    val w = Window.partitionBy(col("source")).orderBy(col("__u"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val twin = in.filter(col("n_tokens") > 0)
      .withColumn("__u", Dedup.md5Hash60(lit(0), col("doc_id").cast("string")))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .drop("__u")
    def key(r: org.apache.spark.sql.Row) = r.getLong(0) -> r.getLong(3)
    assert(got.select("doc_id", "source", "n_tokens", "cum_tokens")
      .collect().map(key).toMap ==
      twin.collect().map(key).toMap)
    // tiling invariants: per stratum the manifest starts at token 0,
    // covers exactly sum(n_tokens), and every offset is in-range
    val bad = got.filter(
      col("start_tok") =!= col("cum_tokens") - col("n_tokens") ||
      col("first_seq") =!= expr("start_tok DIV 256") ||
      col("last_seq") =!= expr("(cum_tokens - 1) DIV 256") ||
      col("offset_in_seq") < 0 || col("offset_in_seq") >= 256).count()
    assert(bad == 0L)
    val perStratum = got.groupBy("source")
      .agg(min("start_tok").as("lo"), max("cum_tokens").as("hi"),
        sum("n_tokens").as("tot"))
      .filter(col("lo") =!= 0L || col("hi") =!= col("tot")).count()
    assert(perStratum == 0L)
  }

  // r11: the REAL BPE tokenizer behind t3b. Rows-only by declaration
  // (a greedy ranked-merge loop is not SQL-expressible), so the gate
  // is (1) encode parity with an independent reference implementation
  // over every distinct corpus pre-token plus adversarial fixtures,
  // (2) the DataFrame face equal to a driver recompute, and (3) the
  // t12 packing manifest re-run under BPE counts — the wiring the
  // tokenizer exists for (exact token budgets for packing/shards).
  test("t3b real BPE: reference parity, DataFrame face, t12 manifest under BPE counts") {
    import graft.functions.Bpe
    import graft.operators.Sampling
    val merges = Bpe.defaultMerges
    assert(merges.nonEmpty)
    val vocab = new Bpe.Vocab(merges)
    // independent reference: rescan the merges table IN RANK ORDER
    // from the top after every single merge (same spec, different
    // search than the encoder's single-pass best-rank scan)
    def reference(w: String): Vector[String] = {
      var parts = w.iterator.map(_.toString).toVector
      var done = false
      while (!done && parts.length > 1) {
        val step = merges.iterator.flatMap { case (a, b) =>
          (0 until parts.length - 1)
            .find(i => parts(i) == a && parts(i + 1) == b)
            .map(i => (i, a + b))
        }.nextOption()
        step match {
          case Some((i, j)) =>
            parts = (parts.take(i) :+ j) ++ parts.drop(i + 2)
          case None => done = true
        }
      }
      parts
    }
    val corpusWords = docs.select(col("text")).collect()
      .iterator.flatMap(r => Bpe.preTokens(r.getString(0))).toSet
    val fixtures = Seq(" the", "the", "aaa", " zz9!", "中文字",
      "x", " ", "!!!", "ünïcode", "1234")
    (corpusWords ++ fixtures).foreach { w =>
      assert(vocab.encode(w) == reference(w), s"encode diverged on '$w'")
      // lossless: merged symbols concatenate back to the pre-token
      assert(vocab.encode(w).mkString == w, s"encode lost bytes on '$w'")
    }
    // the DataFrame face equals a driver recompute (memo + broadcast
    // plumbing changes nothing)
    val viaDf = TextAnalysis.bpeTokenCount(docs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaDriver = docs.select(col("doc_id"), col("text")).collect()
      .map { r =>
        r.getLong(0) ->
          Bpe.preTokens(r.getString(1)).map(vocab.encode(_).length.toLong).sum
      }.toMap
    assert(viaDf == viaDriver && viaDf.nonEmpty)
    // BPE counts differ from the t3 regex approximation somewhere on
    // this corpus — otherwise t3b would be a rename, not a tokenizer
    val approx = TextAnalysis.tokenCount(docs)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(viaDf.exists { case (id, n) => approx(id) != n })
    // t12's packing manifest is exact under the real tokenizer: same
    // tiling invariants as the t3-count spec, fed by bpeTokenCount
    val in = TextAnalysis.bpeTokenCount(docs)
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      .select(col("doc_id"), col("source"),
        col("bpe_tokens").as("n_tokens"))
    val got = Sampling.sequencePack(in, "source", "doc_id",
      col("n_tokens"), seqTokens = 256)
    val bad = got.filter(
      col("start_tok") =!= col("cum_tokens") - col("n_tokens") ||
      col("first_seq") =!= expr("start_tok DIV 256") ||
      col("last_seq") =!= expr("(cum_tokens - 1) DIV 256") ||
      col("offset_in_seq") < 0 || col("offset_in_seq") >= 256).count()
    assert(bad == 0L)
    val perStratum = got.groupBy("source")
      .agg(min("start_tok").as("lo"), max("cum_tokens").as("hi"),
        sum("n_tokens").as("tot"))
      .filter(col("lo") =!= 0L || col("hi") =!= col("tot")).count()
    assert(perStratum == 0L)
  }

  /** Deterministic Zipf-weighted random-letter word table — a rich
    * open vocabulary that trains thousands of BPE merges before it
    * saturates.
    */
  private def synthWordFreq(nWords: Int, seed: Int = 7): Seq[(String, Long)] = {
    val rnd = new scala.util.Random(seed)
    (0 until nWords).map { rank =>
      val len = 3 + rnd.nextInt(10)
      val w = " " + (0 until len)
        .map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
      (w, math.max(1L, (1000000.0 / (rank + 1)).toLong))
    }.distinct
  }

  // r12: the same gates at a REALISTIC (non-toy) vocabulary — the
  // fixture is 80 merges; here a rich synthetic vocabulary trains
  // thousands of merges (BASELINE.md records the full 32k) and the
  // encoder must hold reference parity, losslessness, and the
  // manifest wiring under it. The rank-rescan reference is O(merges)
  // per step, so parity runs over the corpus's distinct words + the
  // adversarial fixtures, not a synthetic sweep.
  test("t3b at a large vocabulary: parity, losslessness, DataFrame face") {
    import graft.functions.Bpe
    val rich = synthWordFreq(4000)
    val merges = Bpe.train(rich, numMerges = 8192)
    assert(merges.length == 8192,
      s"synthetic vocabulary saturated early: ${merges.length}")
    val vocab = new Bpe.Vocab(merges)
    def reference(w: String): Vector[String] = {
      var parts = w.iterator.map(_.toString).toVector
      var done = false
      while (!done && parts.length > 1) {
        val step = merges.iterator.flatMap { case (a, b) =>
          (0 until parts.length - 1)
            .find(i => parts(i) == a && parts(i + 1) == b)
            .map(i => (i, a + b))
        }.nextOption()
        step match {
          case Some((i, j)) =>
            parts = (parts.take(i) :+ j) ++ parts.drop(i + 2)
          case None => done = true
        }
      }
      parts
    }
    val corpusWords = docs.select(col("text")).collect()
      .iterator.flatMap(r => Bpe.preTokens(r.getString(0))).toSet
    val fixtures = Seq(" the", "aaa", " zz9!", "中文字", "ünïcode",
      rich.head._1, rich(17)._1, rich(4)._1 + "x")
    (corpusWords ++ fixtures).foreach { w =>
      assert(vocab.encode(w) == reference(w),
        s"large-vocab encode diverged on '$w'")
      assert(vocab.encode(w).mkString == w,
        s"large-vocab encode lost characters on '$w'")
    }
    // the DataFrame face under the large table still equals a driver
    // recompute (the memo/broadcast plumbing is vocabulary-agnostic)
    val viaDf = TextAnalysis.bpeTokenCount(docs, merges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaDriver = docs.select(col("doc_id"), col("text")).collect()
      .map { r =>
        r.getLong(0) ->
          Bpe.preTokens(r.getString(1)).map(vocab.encode(_).length.toLong).sum
      }.toMap
    assert(viaDf == viaDriver && viaDf.nonEmpty)
  }

  test("p1 preprocess equals the composition of its standalone stages") {
    import graft.operators.{Preprocess, Sampling}
    // composition twin built from the per-stage operators the fused
    // form must agree with: t1 gate → t2 gate → dedup window over
    // survivors → t3 tokens → d7-style keep
    val gateIds = TextAnalysis.langId(docs).filter(col("pred_lang") =!= "und")
      .join(TextAnalysis.qualityScore(docs)
        .filter(col("stopword_ratio") >= 0.02 && col("punct_ratio") <= 0.3),
        "doc_id")
      .select(col("doc_id"), col("pred_lang"))
    val survivors = Dedup.exact(docs.join(gateIds, "doc_id"))
      .filter(col("doc_id") === col("canonical_doc_id"))
      .select(col("doc_id"), col("n_dups"))
    val expected = Sampling.stratified(
      survivors.join(gateIds, "doc_id"), col("pred_lang"), col("doc_id"),
      Map("en" -> 0.5), 1.0)
    val got = Preprocess.select(docs)
    assert(got.count() > 0, "p1 must keep a non-trivial survivor set")
    val gotSet = got.select("doc_id", "pred_lang", "n_dups").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val expSet = expected.select("doc_id", "pred_lang", "n_dups").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(gotSet == expSet)
    // and the carried metrics agree with the standalone scorers
    val metrics = got.join(TextAnalysis.qualityScore(docs)
        .withColumnRenamed("stopword_ratio", "sr2"), "doc_id")
      .filter(col("stopword_ratio") =!= col("sr2")).count()
    assert(metrics == 0L)
  }

  test("d12 semdedup: near-identical cluster-mates drop, others keep") {
    import spark.implicits._
    // label 0's centroid ≈ (1,0,0,0); label 1's ≈ (0,0,1,0). Vector 4
    // carries label 1 but sits on axis 0 — the LEARNED assignment must
    // put it in cluster 0, where vector 1 (its near-twin) kills it.
    val e = Seq(
      (1L, Array(1f, 0f, 0f, 0f), 0),
      (2L, Array(0.99f, 0.14f, 0f, 0f), 0),
      (3L, Array(0f, 0f, 1f, 0f), 1),
      (4L, Array(0.995f, -0.1f, 0f, 0f), 1))
      .toDF("vec_id", "embedding", "label")
    val cents = Similarity.centroids(e, col("label"))
    val out = Dedup.semDedup(e, cents, minCos = 0.9).collect()
      .map(r => r.getLong(0) ->
        (r.getInt(1), r.getBoolean(2), Option(r.get(3)))).toMap
    assert(out(1L)._2, "smallest id in its cluster is always kept")
    assert(!out(2L)._2 && out(2L)._3.contains(1L),
      "near-twin with a smaller-id mate must drop against it")
    assert(out(3L)._2, "singleton cluster member is kept")
    assert(out(4L)._1 == 0, "assignment must follow the nearest " +
      "centroid, not the carried label")
    assert(!out(4L)._2 && out(4L)._3.contains(1L))
  }

  test("d12 semdedup: drop verdicts are consistent on sf embeddings") {
    val cents = Similarity.centroids(emb, col("label"))
    val rows = Dedup.semDedup(emb, cents, minCos = 0.35).collect()
    assert(rows.length == emb.count(),
      "one verdict row per vector (no cluster over the cutoff on sf)")
    val dropped = rows.filter(!_.getBoolean(2))
    assert(dropped.nonEmpty, "sf corpus must produce semantic drops")
    assert(dropped.forall(r => r.getLong(3) < r.getLong(0)),
      "dup_of is always a smaller id")
    assert(dropped.forall(r => r.getDouble(4) >= 0.35),
      "best_cos honors the threshold")
    assert(rows.filter(_.getBoolean(2)).forall(_.isNullAt(3)),
      "kept rows carry no dup_of")
  }

  test("d12 maxList cutoff: oversize clusters are excluded loudly") {
    import spark.implicits._
    // 3 vectors on axis 0 (cluster of 3) + 1 on axis 2 (singleton);
    // maxList = 2 must drop the whole axis-0 cluster from the output
    val e = Seq(
      (1L, Array(1f, 0f, 0f, 0f), 0),
      (2L, Array(0.99f, 0.1f, 0f, 0f), 0),
      (3L, Array(0.98f, 0.2f, 0f, 0f), 0),
      (4L, Array(0f, 0f, 1f, 0f), 1))
      .toDF("vec_id", "embedding", "label")
    val cents = Similarity.centroids(e, col("label"))
    val ids = Dedup.semDedup(e, cents, minCos = 0.9, maxList = 2)
      .collect().map(_.getLong(0)).toSet
    assert(ids == Set(4L))
  }

  test("t13 gopher filter: each rule verdict matches first principles") {
    import spark.implicits._
    val w5 = (1 to 23).map(i => f"w${i}%03da").mkString(" ") // 23×5 chars
    val pass = s"that is $w5" // 25 words, avg len in [4,5], 2 stops
    val short = "that is " + (1 to 8).map(i => f"w${i}%03da").mkString(" ")
    val noStop = (1 to 25).map(i => f"w${i}%03da").mkString(" ")
    val repet = "that is " + Seq.fill(23)("abcde").mkString(" ")
    val df = Seq((1L, pass, "s"), (2L, short, "s"), (3L, noStop, "s"),
      (4L, repet, "s")).toDF("doc_id", "text", "source")
    val out = TextAnalysis.gopherFilter(df).collect().map { r =>
      r.getLong(0) -> (r.getBoolean(6), r.getBoolean(7), r.getBoolean(8),
        r.getBoolean(9), r.getBoolean(10), r.getBoolean(11), r.getLong(12))
    }.toMap
    // (r_word_count, r_word_len, r_symbol, r_stopwords, r_repetition,
    //  keep, n_failed)
    assert(out(1L) == ((true, true, true, true, true, true, 0L)))
    assert(out(2L) == ((false, true, true, true, true, false, 1L)),
      "10 words fails only the word-count rule")
    assert(out(3L) == ((true, true, true, false, true, false, 1L)),
      "stopword-free doc fails only the stopword rule")
    assert(out(4L) == ((true, true, true, true, false, false, 1L)),
      "repeated bigrams fail only the repetition rule")
  }

  test("t13 gopher filter: sf corpus splits non-trivially") {
    val rows = TextAnalysis.gopherFilter(docs).collect()
    assert(rows.length == docs.count())
    val kept = rows.count(_.getBoolean(11))
    assert(kept > 0 && kept < rows.length,
      s"filter must discriminate on sf (kept $kept of ${rows.length})")
    // n_failed is exactly the number of false rule flags
    assert(rows.forall(r => r.getLong(12) ==
      (6 to 10).count(i => !r.getBoolean(i))))
  }

  test("p2 shuffle-shard: deterministic, complete, and pack-consistent") {
    val out = SparkEntry.queries("p2_shuffle_shard")(spark, sf)
    val rows = out.collect().map(r => (r.getLong(0), r.getLong(3),
      r.getLong(2), r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7),
      r.getLong(8)))
    val again = SparkEntry.queries("p2_shuffle_shard")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(3), r.getLong(2),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7),
        r.getLong(8)))
    assert(rows.toSet == again.toSet, "shard draw must be reproducible")
    assert(rows.map(_._2).forall(s => s >= 0 && s < 8))
    assert(rows.map(_._1).distinct.length == rows.length,
      "every doc packs exactly once")
    // within each shard the manifest is a gapless prefix sum
    rows.groupBy(_._2).foreach { case (_, rs) =>
      val sorted = rs.sortBy(_._4)
      sorted.foldLeft(0L) { case (prev, r) =>
        assert(r._5 == prev, "start_tok must equal the prior cum_tokens")
        assert(r._4 == prev + r._3)
        assert(r._6 == r._5 / 512 && r._7 == (r._4 - 1) / 512 &&
          r._8 == r._5 % 512)
        r._4
      }
    }
  }

  test("p3 corpus report: totals reconcile with the standalone operators") {
    val report = SparkEntry.queries("p3_corpus_report")(spark, sf).collect()
    assert(report.map(_.getLong(2)).sum == docs.count(),
      "every document lands in exactly one report row")
    // token total equals t3's whitespace-token total
    val t3Total = TextAnalysis.tokenCount(docs)
      .agg(sum(col("ws_tokens"))).head().getLong(0)
    assert(report.map(_.getLong(3)).sum == t3Total)
    // dup exposure reconciles with d1: docs in multi-copy hash groups
    val d1Dups = graft.operators.Dedup.exact(docs)
      .filter(col("n_dups") > 1).count()
    assert(report.map(_.getLong(5)).sum == d1Dups)
    // keep_rate is a genuine mix: not all 0.0, not all 1.0
    val rates = report.map(_.getDouble(4))
    assert(rates.exists(_ > 0.0) && rates.exists(_ < 1.0))
  }

  test("m4 audio windows: geometry and features match a direct decode") {
    val out = SparkEntry.queries("m4_audio_windows")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    val texts = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    var checked = 0
    texts.filter(_._2.length >= 2).foreach { case (id, text) =>
      val b = text.getBytes("US-ASCII")
      val ks = (0 until b.length / 2)
        .map(i => (b(2 * i) & 0xff) + 256L * (b(2 * i + 1) & 0xff))
      val nWin = (ks.length + 63) / 64
      (0 until nWin).foreach { w =>
        val win = ks.slice(w * 64, w * 64 + 64)
        val rising = win.indices.drop(1).count(j => win(j) > win(j - 1))
        val got = out((id, w.toLong))
        assert(got == ((win.length.toLong, win.map(k => k * k).sum,
          win.max, rising.toLong)),
          s"doc $id window $w mismatch")
        checked += 1
      }
    }
    assert(checked == out.size, "no extra windows beyond the decode")
  }

  test("t15 bpe tokenize: id round-trip, t3b count consistency, " +
    "bounded vocab, zero unknowns") {
    import graft.functions.Bpe
    val out = SparkEntry.queries("t15_bpe_tokenize")(spark, sf).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), parseIds(r.getString(2)))).toMap
    // rebuild the id map independently: same (count desc, token asc)
    // rule over a driver-side re-encode of the whole corpus
    val texts = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val vocab = new Bpe.Vocab(Bpe.defaultMerges)
    def toks(t: String): Vector[String] =
      Bpe.preTokens(t).flatMap(vocab.encode).toVector
    val freq = scala.collection.mutable.HashMap.empty[String, Long]
    texts.foreach { case (_, t) =>
      toks(t).foreach(tok => freq(tok) = freq.getOrElse(tok, 0L) + 1L) }
    val idOf = freq.toArray.sortBy { case (tok, n) => (-n, tok) }
      .zipWithIndex.map { case ((tok, _), i) => tok -> i.toLong }.toMap
    val inv = idOf.map(_.swap)
    var checked = 0
    texts.foreach { case (id, t) =>
      val (n, ids) = out(id)
      val expect = toks(t)
      assert(n == expect.length && ids.length == expect.length,
        s"doc $id token count mismatch")
      assert(ids.forall(_ >= 0L), s"doc $id emitted an unknown id")
      // id-grain round-trip: decoding the ids re-yields the exact
      // token sequence (and so, concatenated, the pre-token stream)
      assert(ids.map(inv) == expect, s"doc $id id round-trip mismatch")
      checked += 1
    }
    assert(checked == out.size)
    // the structural bound that makes the vocab collect broadcast-safe
    val alphabet = texts.flatMap(_._2.toSet).toSet.size
    assert(idOf.size <= alphabet + Bpe.defaultMerges.size + 1,
      s"vocab ${idOf.size} exceeds alphabet $alphabet + merges bound")
    // count consistency with the t3b face
    val t3b = SparkEntry.queries("t3b_bpe_token_count")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(texts.forall { case (id, _) => out(id)._1 == t3b(id) })
  }

  test("p5 packed sequences: full except stratum tails, lossless " +
    "against t15 ids at t12's oracle-gated coordinates") {
    val seqs = SparkEntry.queries("p5_pack_sequences")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), parseIds(r.getString(4)))).toMap
    // every sequence is exactly 256 tokens except each source's last
    val lastSeq = seqs.keys.groupBy(_._1)
      .map { case (src, ks) => src -> ks.map(_._2).max }
    seqs.foreach { case ((src, sq), (_, n, ids)) =>
      assert(ids.length == n)
      assert(n == 256L || sq == lastSeq(src),
        s"partial sequence $sq mid-stream in $src")
    }
    // reconstruct each source's global token stream and cross-check
    // every doc's slice against its t15 ids at its t12 coordinates
    // (t12 is oracle-gated, t15 independently spec'd — agreement here
    // gates the assembly itself)
    val stream = seqs.toSeq.groupBy(_._1._1).map { case (src, rows) =>
      src -> rows.sortBy(_._1._2).flatMap(_._2._3).toVector
    }
    val t15 = SparkEntry.queries("t15_bpe_tokenize")(spark, sf).collect()
      .map(r => r.getLong(0) -> parseIds(r.getString(2))).toMap
    // t12 uses whitespace-ish token counts; p5 packs by BPE counts, so
    // derive coordinates from the SAME packer over the t15 counts
    val coords = graft.operators.Sampling.sequencePack(
      SparkEntry.queries("t15_bpe_tokenize")(spark, sf)
        .join(docs.select(col("doc_id"), col("source")), "doc_id"),
      "source", "doc_id", col("n_tokens"), seqTokens = 256).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("source"),
        r.getAs[Long]("cum_tokens")))
    var checked = 0
    coords.foreach { case (docId, src, cum) =>
      val ids = t15(docId)
      val got = stream(src).slice((cum - ids.length).toInt, cum.toInt)
      assert(got == ids, s"doc $docId misplaced in $src's stream")
      checked += 1
    }
    assert(checked > 0 &&
      stream.values.map(_.length).sum == t15.values.map(_.length).sum,
      "every token placed exactly once")
  }

  test("m7 spectrogram: band powers match a direct Walsh recompute") {
    val masks = Seq(1, 2, 4, 8, 16, 32)
    val out = SparkEntry.queries("m7_spectrogram")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), (3 to 8).map(r.getLong).toSeq, r.getLong(9)))
      .toMap
    val texts = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    var checked = 0
    texts.filter(_._2.length >= 2).foreach { case (id, text) =>
      val b = text.getBytes("US-ASCII")
      val ks = (0 until b.length / 2)
        .map(i => (b(2 * i) & 0xff) + 256L * (b(2 * i + 1) & 0xff))
      (0 until (ks.length + 63) / 64).foreach { w =>
        val win = ks.slice(w * 64, w * 64 + 64)
        // independent sign formulation: product of per-bit Rademacher
        // signs over the mask's set bits (the query uses popcount
        // parity of j AND h — same function, different derivation)
        val pows = masks.map { h =>
          val c = win.zipWithIndex.map { case (k, j) =>
            val sign = (0 until 6)
              .filter(bit => (h & (1 << bit)) != 0)
              .map(bit => if (((j >> bit) & 1) == 1) -1 else 1)
              .product
            sign * k
          }.sum
          c * c
        }
        val dom = masks(pows.indexOf(pows.max)).toLong
        assert(out((id, w.toLong)) ==
          ((win.length.toLong, pows, dom)),
          s"doc $id window $w spectrum mismatch")
        checked += 1
      }
    }
    assert(checked == out.size, "no extra windows beyond the decode")
  }

  // ---- s8 MMR-diversified top-k ----

  test("s8 mmrTopK ≡ independent greedy reference on randomized corpora") {
    import spark.implicits._
    import java.math.{BigDecimal => JBD, RoundingMode}
    def cosS4(a: Seq[Float], b: Seq[Float]): Long = {
      def dot(x: Seq[Float], y: Seq[Float]) =
        x.zip(y).map { case (p, q) => p.toDouble * q.toDouble }.sum
      val c = dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
      math.round(JBD.valueOf(c)
        .setScale(4, RoundingMode.HALF_UP).doubleValue() * 10000.0)
    }
    // independent evaluator: recompute max-sim from scratch each round
    // (the operator folds incrementally — different code shape)
    def reference(vecs: Map[Long, Seq[Float]], qid: Long, shortlist: Int,
        k: Int): Seq[(Long, Long, Long, Long)] = {
      val rel = vecs.collect { case (i, v) if i != qid =>
        i -> cosS4(vecs(qid), v) }
      val cand = rel.toSeq.sortBy { case (i, r) => (-r, i) }.take(shortlist)
      var sel = Vector.empty[Long]
      (1 to math.min(k, cand.size)).map { r =>
        val scored = cand.filterNot { case (i, _) => sel.contains(i) }
          .map { case (i, rl) =>
            val pen = if (sel.isEmpty) 0L
              else sel.map(s => cosS4(vecs(i), vecs(s))).max
            (i, 7L * rl - 3L * pen)
          }
        val (bi, bs) = scored.minBy { case (i, sc) => (-sc, i) }
        sel :+= bi
        (qid, bi, r.toLong, bs)
      }
    }
    val rnd = new scala.util.Random(17)
    for (trial <- 1 to 5) {
      val n = 25 + rnd.nextInt(10)
      val vecs = (0L until n.toLong).map(i =>
        i -> Seq.fill(8)(rnd.nextFloat() * 2 - 1)).toMap
      val df = vecs.toSeq.map { case (i, v) => (i, v) }
        .toDF("vec_id", "embedding")
      val got = graft.operators.Similarity.mmrTopK(
        df, df.filter(col("vec_id") < 2), shortlist = 12, k = 6)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      val want = (0L until 2L).flatMap(reference(vecs, _, 12, 6)).toSet
      assert(got == want, s"trial $trial: ${got -- want} vs ${want -- got}")
    }
  }

  test("s8 mmrTopK diversifies: near-copies demoted, anti-correlation is a bonus") {
    import spark.implicits._
    // query along +x; cluster A: three near-copies sharing one
    // residual direction; b: EQUALLY relevant but orthogonal residual
    // — plain top-3 would take all three A's (marginally higher rel),
    // while MMR's redundancy term (twins ≈ 1.0, b vs A ≈ 0.64) must
    // pull b to rank 2
    val q = Seq(1.0f, 0.0f, 0.0f, 0.0f)
    val a1 = Seq(0.80f, 0.60f, 0.00f, 0.0f)
    val a2 = Seq(0.80f, 0.599f, 0.001f, 0.0f)
    val a3 = Seq(0.80f, 0.601f, 0.000f, 0.001f)
    val b = Seq(0.799f, 0.00f, 0.60f, 0.0f)
    val df = Seq((0L, q), (1L, a1), (2L, a2), (3L, a3), (4L, b))
      .toDF("vec_id", "embedding")
    val picks = graft.operators.Similarity.mmrTopK(
      df, df.filter(col("vec_id") === 0L), shortlist = 4, k = 3)
      .collect().map(r => r.getLong(2) -> r.getLong(1)).toMap
    assert(picks(1L) != 4L && picks(2L) == 4L,
      s"rank 2 must diversify to b: $picks")
    // anti-correlated pair: the literal max-sim is NEGATIVE, so the
    // second pick's score EXCEEDS 7·rel4 (redundancy term is a bonus
    // — the semantics the oracle pinned, and exactly the case the
    // max(0, ·) floor a naive implementation writes would get wrong)
    def cosS4(a: Seq[Float], b: Seq[Float]): Long = {
      def dot(x: Seq[Float], y: Seq[Float]) =
        x.zip(y).map { case (p, q) => p.toDouble * q.toDouble }.sum
      val c = dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
      math.round(java.math.BigDecimal.valueOf(c)
        .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue() * 10000.0)
    }
    val v0 = Seq(1.0f, 0.0f); val v1 = Seq(0.9f, 0.1f); val v2 = Seq(-0.5f, 0.9f)
    val df2 = Seq((0L, v0), (1L, v1), (2L, v2)).toDF("vec_id", "embedding")
    val rows = graft.operators.Similarity.mmrTopK(
      df2, df2.filter(col("vec_id") === 0L), shortlist = 2, k = 2)
      .collect().map(r => (r.getLong(2), r.getLong(1), r.getLong(3))).toSet
    val want2 = (2L, 2L, 7L * cosS4(v0, v2) - 3L * cosS4(v2, v1))
    assert(rows.contains(want2),
      s"anti-correlated second pick must carry the negative-sim bonus " +
        s"(want $want2): $rows")
    assert(want2._3 > 7L * cosS4(v0, v2), "the bonus must be positive")
  }

  test("d15b banded overlap: subset of d15 rows, cluster collapse, τ-pair recall") {
    import spark.implicits._
    // 1) on the live corpus every emitted row must EQUAL d15's exact
    // row for that pair — the band filter selects pairs, never
    // changes their algebra
    val full = PipelineQueries.d15SourceOverlap(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    val banded = PipelineQueries.d15bOverlapLsh(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    assert(banded.nonEmpty && banded.keySet.subsetOf(full.keySet))
    banded.foreach { case (k, v) => assert(full(k) == v, s"$k differs") }
    // 2) clustered synthetic corpus: 8 DISJOINT vocab clusters × 5
    // sources — candidates collapse to within-cluster pairs (the
    // sources² wall falls exactly where real corpora are sparse)
    val rnd = new scala.util.Random(29)
    val docs2 = (0 until 8).flatMap { c =>
      // per-cluster BASE SEQUENCE; each source's docs are slices of
      // it, so within-cluster SHINGLE sets overlap heavily (shared
      // passages, the real crawl-duplication shape) while clusters
      // stay vocabulary-disjoint
      val vocab = (0 until 40).map(w => s"c${c}w$w")
      val base = Seq.fill(200)(vocab(rnd.nextInt(vocab.length)))
      (0 until 5).flatMap { s2 =>
        (0 until 6).map { d =>
          val start = rnd.nextInt(base.length - 30)
          (c * 100L + s2 * 10L + d,
            base.slice(start, start + 30).mkString(" "), s"src_${c}_$s2")
        }
      }
    }.toDF("doc_id", "text", "source")
    val k = 4096
    val sk = docs2
      .select(col("source"), explode(
        graft.operators.Dedup.shinglesN(col("text"), 3)).as("g"))
      .groupBy(col("source"))
      .agg(graft.functions.Kmv.kmvSketch(col("g"), k).as("sk"))
    val pairs = PipelineQueries.overlapFromSketches(sk, k, bands = 8)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(pairs.nonEmpty && pairs.length < 40 * 39 / 2 / 2,
      s"banding must collapse the grid: ${pairs.length} pairs")
    // cross-cluster vocabularies are disjoint → no candidate may span
    // clusters (shared minimums require shared shingles)
    def cluster(s2: String) = s2.split("_")(1)
    assert(pairs.forall { case (a, b, _) => cluster(a) == cluster(b) },
      "cross-cluster candidates are impossible under disjoint vocabularies")
    // 3) τ-recall: every within-cluster pair has heavy overlap (same
    // 40-word vocabulary); all C(5,2) × 8 = 80 such pairs must be
    // found at bands = 8
    assert(pairs.length == 80, s"recall over the clustered pairs: ${pairs.length}")
    // 4) the r13 default-face regime switch: above `bandedAbove`
    // sources d15's entry point swaps the sources² grid for the
    // banded pre-filter — SAME rows as overlapFromSketches; below it
    // the exact grid keeps every pair including the zero-overlap ones
    val viaFace = PipelineQueries
      .sourceOverlap(docs2, k, bands = 8, bandedAbove = 20)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .toSet
    assert(viaFace == pairs.toSet,
      "banded regime of the default face must equal overlapFromSketches")
    val grid = PipelineQueries
      .sourceOverlap(docs2, k, bands = 8, bandedAbove = 1000)
      .collect()
    assert(grid.length == 40 * 39 / 2,
      s"exact regime must keep the full grid: ${grid.length}")
  }

  test("s8 mmrTopK: zero-norm embeddings are dropped, not NaN-crashed") {
    import spark.implicits._
    val df = Seq(
      (0L, Seq(1.0f, 0.0f)), (1L, Seq(0.9f, 0.1f)),
      (2L, Seq(0.0f, 0.0f)), // degenerate: no cosine exists
      (3L, Seq(0.5f, 0.8f)))
      .toDF("vec_id", "embedding")
    val out = graft.operators.Similarity.mmrTopK(
      df, df.filter(col("vec_id") === 0L), shortlist = 3, k = 3)
      .collect().map(_.getLong(1)).toSet
    assert(out == Set(1L, 3L), s"zero-norm row must drop silently: $out")
  }

  test("a zero-norm vector has a null cosine: s1 and s2 rank it last, d5 pairs it with nothing") {
    import spark.implicits._
    import graft.operators.{Dedup, Similarity}
    val df = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f)), (1L, Seq(0.9f, 0.1f, 0.0f)),
      (2L, Seq(0.0f, 0.0f, 0.0f)), // zero norm: no cosine exists
      (3L, Seq(0.5f, 0.8f, 0.0f)), (4L, Seq(0.9f, 0.12f, 0.0f)))
      .toDF("vec_id", "embedding")
    def ranked(out: org.apache.spark.sql.DataFrame) = out.collect()
      .map(r => (r.getLong(0), r.getLong(3)) ->
        (r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Double])))
      .toMap
    val s1 = ranked(Similarity.bruteTopK(df, df, k = 4))
    // every query ranks its three scored neighbors first and the zero
    // vector last, unscored; the zero query's neighbors are all
    // unscored and fall to the neighbor_id order
    for (q <- Seq(0L, 1L, 3L, 4L)) {
      assert((1 to 3).forall(r => s1((q, r.toLong))._2.isDefined), s"query $q")
      assert(s1((q, 4L)) == ((2L, None)), s"query $q")
    }
    assert((1 to 4).map(r => s1((2L, r.toLong))) ==
      Seq(0L, 1L, 3L, 4L).map(n => (n, None)))
    // one hyperplane plus its hamming-1 probe reaches every bucket, so
    // s2 scores exactly s1's candidates
    assert(ranked(Similarity.lshTopK(df, df, k = 4, numPlanes = 1)) == s1)
    // d5: the pairs with the zero vector fail the threshold, the rest
    // are the pairs of the corpus without it
    val labelled = df.withColumn("label", lit(0))
    def pairs(in: org.apache.spark.sql.DataFrame) =
      Dedup.embeddingNearDup(in, 0.9).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val d5 = pairs(labelled)
    assert(d5.nonEmpty && d5 == pairs(labelled.filter(col("vec_id") =!= 2L)))
    assert(labelled.select(Dedup.cosine(col("embedding"),
      lit(Array(0.0f, 0.0f, 0.0f)))).collect().forall(_.isNullAt(0)))
  }

  // ---- d14 exact duplicated-substring runs ----

  private def spansOf(df: org.apache.spark.sql.DataFrame)
      : Set[(Long, Long, Long, Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3), r.getLong(4))).toSet

  test("d14 dupSpans: planted run reported with exact geometry") {
    import spark.implicits._
    // doc 1: 40 unique tokens; doc 2 embeds doc 1's tokens [5, 25) at
    // its own positions [3, 23), padded with distinct tokens — ONE
    // maximal shared run of 20 tokens, nothing else in common
    val shared = (5 until 25).map(i => s"s$i")
    val doc1 = (0 until 5).map(i => s"a$i") ++ shared ++
      (25 until 40).map(i => s"a$i")
    val doc2 = (0 until 3).map(i => s"b$i") ++ shared ++
      (0 until 14).map(i => s"c$i")
    val df = Seq((1L, doc1.mkString(" ")), (2L, doc2.mkString(" ")))
      .toDF("doc_id", "text")
    assert(spansOf(Dedup.dupSpans(df, k = 8, minRun = 12, maxDf = 20)) ==
      Set((1L, 2L, 5L, 3L, 20L)))
    // a higher minRun than the run suppresses it
    assert(Dedup.dupSpans(df, k = 8, minRun = 21, maxDf = 20).isEmpty)
  }

  test("d14 dupSpans: identical docs, short docs, two disjoint runs") {
    import spark.implicits._
    val toks30 = (0 until 30).map(i => s"w$i")
    val idPair = Seq((1L, toks30.mkString(" ")), (2L, toks30.mkString(" ")))
      .toDF("doc_id", "text")
    // identical 30-token docs → one full-length diagonal-0 run
    assert(spansOf(Dedup.dupSpans(idPair, 8, 12, 20)) ==
      Set((1L, 2L, 0L, 0L, 30L)))
    // docs under the anchor width produce no anchors at all
    val tiny = Seq((1L, "a b c"), (2L, "a b c")).toDF("doc_id", "text")
    assert(Dedup.dupSpans(tiny, 8, 8, 20).isEmpty)
    // two runs on different diagonals of the same pair stay separate
    val r1 = (0 until 12).map(i => s"p$i")
    val r2 = (0 until 12).map(i => s"q$i")
    val dA = r1 ++ (0 until 6).map(i => s"x$i") ++ r2
    val dB = r2 ++ (0 until 9).map(i => s"y$i") ++ r1
    val two = Seq((1L, dA.mkString(" ")), (2L, dB.mkString(" ")))
      .toDF("doc_id", "text")
    assert(spansOf(Dedup.dupSpans(two, 8, 12, 20)) ==
      Set((1L, 2L, 0L, 21L, 12L), (1L, 2L, 18L, 0L, 12L)))
  }

  test("d14b spanScrub: keep-first deletion, overlap union, full wipe") {
    import spark.implicits._
    def md5Hex(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    // planted pair from the d14 spec: doc 1 (earlier) KEEPS its copy,
    // doc 2 loses exactly the shared [3, 23) span
    val shared = (5 until 25).map(i => s"s$i")
    val doc1 = (0 until 5).map(i => s"a$i") ++ shared ++
      (25 until 40).map(i => s"a$i")
    val doc2 = (0 until 3).map(i => s"b$i") ++ shared ++
      (0 until 14).map(i => s"c$i")
    val out = Dedup.spanScrub(
      Seq((1L, doc1.mkString(" ")), (2L, doc2.mkString(" ")))
        .toDF("doc_id", "text"), 8, 12, 20)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2))))
      .toMap
    assert(out(1L) == ((0L, md5Hex(doc1.mkString(" ")))))
    val doc2clean = (0 until 3).map(i => s"b$i") ++ (0 until 14).map(i => s"c$i")
    assert(out(2L) == ((20L, md5Hex(doc2clean.mkString(" ")))))
    // overlapping spans from TWO earlier partners union before
    // deletion: doc 3 shares [0, 16) with doc 1 and [8, 24) with
    // doc 2 → removed = |[0, 24)| = 24, not 32
    val seg = (0 until 24).map(i => s"o$i")
    val d1 = seg.take(16) ++ (0 until 10).map(i => s"d$i")
    val d2 = (0 until 10).map(i => s"e$i") ++ seg.drop(8)
    val d3 = seg ++ (0 until 8).map(i => s"f$i")
    val out2 = Dedup.spanScrub(
      Seq((1L, d1.mkString(" ")), (2L, d2.mkString(" ")),
        (3L, d3.mkString(" "))).toDF("doc_id", "text"), 8, 12, 20)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out2(3L) == 24L, s"union of overlapping spans: $out2")
    assert(out2(1L) == 0L && out2(2L) == 0L)
    // an identical twin is wiped entirely; md5 of the empty clean text
    val toks30 = (0 until 30).map(i => s"w$i").mkString(" ")
    val wiped = Dedup.spanScrub(
      Seq((1L, toks30), (2L, toks30)).toDF("doc_id", "text"), 8, 12, 20)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2))))
      .toMap
    assert(wiped(2L) == ((30L, md5Hex(""))))
    assert(wiped(1L) == ((0L, md5Hex(toks30))))
  }

  test("d14 dupSpans: df cap drops corpus-wide boilerplate") {
    import spark.implicits._
    // the same 14-token run in 25 docs: with maxDf = 20 every anchor
    // is boilerplate-capped → no spans; raising the cap to 30 reports
    // all 300 pairs
    val run = (0 until 14).map(i => s"r$i").mkString(" ")
    val df = (1L to 25L).map(i => (i, s"u${i}a u${i}b $run u${i}c"))
      .toDF("doc_id", "text")
    assert(Dedup.dupSpans(df, 8, 12, 20).isEmpty)
    val wide = Dedup.dupSpans(df, 8, 12, 30)
    assert(wide.count() == 300L) // C(25,2) pairs, one run each
    assert(spansOf(wide).forall { case (_, _, sa, sb, len) =>
      sa == 2L && sb == 2L && len == 14L })
  }
}
