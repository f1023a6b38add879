package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType,
  LongType, StructField, StructType}

import graft.functions.{TreeMatrix, TreeQuantizerExpression}

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * `bruteTopK` is the exact baseline: broadcast the (small) query set
  * against the corpus, one window per query for top-k — the corpus is
  * never shuffled by pair. `lshTopK` is the scale path: random-
  * hyperplane signatures bucket the corpus so each query only scores
  * its own bucket's candidates; recall vs the exact baseline is
  * spec-tested.
  */
object Similarity {

  /** Deterministic pseudo-random hyperplane matrix: component (p, d)
    * is a value in [-0.5, 0.5) derived from md5("plane-p:d") — the
    * same derivation as `Dedup.md5Hash60`, but evaluated ONCE on the
    * driver. The first implementation computed these md5s inside the
    * row expression: numPlanes × dims digests PER ROW for a matrix
    * that never changes (≈1M digests over a 2k×64-dim corpus). As
    * literals the signature is pure multiply-add in codegen.
    */
  private def planeMatrix(numPlanes: Int, dims: Int): Array[Array[Double]] =
    Array.tabulate(numPlanes, dims) { (p, d) =>
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"plane-$p:$d".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 15)
      (java.lang.Long.parseLong(hex, 16).toDouble / (1L << 60).toDouble) - 0.5
    }

  /** Two-phase per-query top-k over scored (query_id, neighbor_id, cos)
    * rows. A single `Window.partitionBy(query_id)` funnels the ENTIRE
    * scored set onto |queries| reducers — with few queries that is a
    * low-cardinality skew bottleneck at scale. Phase 1 ranks within
    * (query_id, salt) — same row volume but spread across
    * |queries|·`salts` reducers — and keeps k rows per salt; phase 2
    * ranks the surviving ≤ salts·k rows per query. The salt is a
    * deterministic hash of neighbor_id, and because the ordering
    * (cos desc, neighbor_id asc) is total over distinct neighbors,
    * every global top-k row is in its salt's local top-k — output is
    * identical to the single-window plan (spec-asserted).
    */
  private[graft] def topKPerQuery(
      scored: DataFrame,
      k: Int,
      salts: Int = 64,
      dedup: Boolean = false,
      scoreName: String = "cos"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val order = Seq(col("cos").desc, col("neighbor_id").asc)
    val w1 = Window.partitionBy(col("query_id"), col("__salt"))
      .orderBy(order: _*)
    val w2 = Window.partitionBy(col("query_id")).orderBy(order: _*)
    val salted = scored
      .withColumn("__salt", pmod(hash(col("neighbor_id")), lit(salts)))
    // dedup inside phase 1: duplicates of a (query, neighbor) pair carry
    // an identical cos (same vectors, same arithmetic) and hash to the
    // same salt, so they are ADJACENT in the w1 ordering — a lag check
    // drops them with no extra Exchange (same window spec as the rank,
    // so the sort is reused). This replaces a whole distinct() shuffle
    // in the multi-probe LSH path.
    val phase1In =
      if (dedup)
        salted
          .withColumn("__dup",
            lag(col("neighbor_id"), 1).over(w1) === col("neighbor_id"))
          .filter(coalesce(col("__dup"), lit(false)) === false)
      else salted
    phase1In
      .withColumn("__r1", row_number().over(w1))
      .filter(col("__r1") <= k)
      .withColumn("rank", row_number().over(w2).cast("bigint"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"),
        round(col("cos"), 6).as(scoreName), col("rank"))
  }

  /** Sign-bit signature of a vector against `numPlanes` hyperplanes,
    * packed into a long. Pure expression — computed in the scan; the
    * plane matrix is a driver-side literal (see [[planeMatrix]]), so
    * per row this is numPlanes fused multiply-add folds. `dims` must
    * be ≥ the embedding length (components beyond it are not probed;
    * default matches the testdata's 64-dim embeddings).
    */
  def hyperplaneSignature(
      vec: Column, numPlanes: Int, dims: Int = 64): Column = {
    val planes = planeMatrix(numPlanes, dims)
    (0 until numPlanes).map { p =>
      // native dot folds min(|vec|, |row|) elements — the explicit
      // slice-to-|vec| of the declarative form is implied
      val dotP = graft.functions.DotProductExpression.vecDot(
        vec, typedLit(planes(p).toSeq))
      when(dotP >= 0, lit(1L)).otherwise(lit(0L)) * lit(1L << p)
    }.reduce(_ + _)
  }

  /** s1 — exact brute-force cosine top-k. `queries` is expected to be
    * small (broadcast); the corpus side streams through one scan and a
    * per-query top-k window. At 100 TB the corpus never shuffles: the
    * broadcast-nested-loop scores in the scan and the window reduces
    * k·|queries| rows.
    */
  def bruteTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val q = queries.select(col("vec_id").as("query_id"),
      col("embedding").as("qv"),
      sqrt(Dedup.dot(col("embedding"), col("embedding"))).as("qn"))
    val c = corpus.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("cv"),
      sqrt(Dedup.dot(col("embedding"), col("embedding"))).as("cn"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos",
        Dedup.cosineWithNorms(col("qv"), col("cv"), col("qn"), col("cn")))
    topKPerQuery(scored, k)
  }

  /** Range (radius) search — s1's fixed-radius sibling: EVERY corpus
    * vector within cosine ≥ minCos of each query, not a ranked top-k.
    * The output size is data-determined (a dense query may match
    * thousands, an outlier none), which is exactly what top-k cannot
    * express and what near-dup auditing ("everything this close to a
    * known-bad embedding") needs. Same single-scan shape as
    * [[bruteTopK]]: broadcast the bounded query side, score inside the
    * scan partition, and filter — NO window, NO exchange at all, since
    * radius needs no cross-partition rank. The boundary decision runs
    * on round(cos, 4) (the d5 discipline) so threshold membership is
    * engine-deterministic.
    */
  def rangeSearch(
      corpus: DataFrame,
      queries: DataFrame,
      minCos: Double): DataFrame = {
    val q = queries.select(col("vec_id").as("query_id"),
      col("embedding").as("qv"),
      sqrt(Dedup.dot(col("embedding"), col("embedding"))).as("qn"))
    val c = corpus.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("cv"),
      sqrt(Dedup.dot(col("embedding"), col("embedding"))).as("cn"))
    c.crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos",
        Dedup.cosineWithNorms(col("qv"), col("cv"), col("qn"), col("cn")))
      .filter(round(col("cos"), 4) >= minCos)
      .select(col("query_id"), col("neighbor_id"),
        round(col("cos"), 6).as("cos"))
  }

  /** s2 — LSH-bucketed ANN: corpus and queries are both signed against
    * the same hyperplanes; each query scores only candidates sharing
    * its bucket. Recall is tunable via numPlanes (fewer planes → bigger
    * buckets → higher recall, more work). Multi-probe (hamming-1
    * neighbors of the query signature) lifts recall without growing
    * buckets.
    */
  def lshTopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      numPlanes: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val c = corpus.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("cv"),
      sqrt(Dedup.dot(col("embedding"), col("embedding"))).as("cn"),
      hyperplaneSignature(col("embedding"), numPlanes).as("bucket"))
    // multi-probe: query probes its own bucket plus all hamming-1 buckets
    val q = queries.select(col("vec_id").as("query_id"),
      col("embedding").as("qv"),
      sqrt(Dedup.dot(col("embedding"), col("embedding"))).as("qn"),
      hyperplaneSignature(col("embedding"), numPlanes).as("sig"))
      .select(col("query_id"), col("qv"), col("qn"),
        explode(concat(array(col("sig")),
          transform(sequence(lit(0), lit(numPlanes - 1)),
            p => Similarity.flipBit(col("sig"), p)))).as("bucket"))
    val scored = c.join(broadcast(q), Seq("bucket"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos",
        Dedup.cosineWithNorms(col("qv"), col("cv"), col("qn"), col("cn")))
    // multi-probe can score the same (query, neighbor) via several
    // buckets — deduped inside the phase-1 window, not via distinct()
    topKPerQuery(
      scored.select(col("query_id"), col("neighbor_id"), col("cos")),
      k, dedup = true)
  }

  /** sig with bit `bit` flipped; 2^bit via pow (exact for bit < 53). */
  private[operators] def flipBit(sig: Column, bit: Column): Column =
    sig.bitwiseXOR(pow(lit(2.0), bit).cast("long"))

  /** Centroid builder for IVF: elementwise mean per partition key (a
    * batch job, like training a coarse quantizer). posexplode →
    * per-(key, dim) mean → re-assemble ordered arrays.
    *
    * This declarative form is the cross-engine-exact one (dim-major
    * avg matches the DuckDB twin's float semantics); its shuffle
    * carries |rows|·dim exploded rows. [[centroidsAgg]] is the 100 TB
    * path — same result within float-drift, one array per partial.
    */
  def centroids(embeddings: DataFrame, key: Column): DataFrame =
    embeddings
      .select(key.as("list_id"), posexplode(col("embedding")))
      .groupBy(col("list_id"), col("pos"))
      .agg(avg(col("col")).as("m"))
      .groupBy(col("list_id"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
        e => e.getField("m")).as("centroid"))

  /** The scale twin of [[centroids]]: one native vec_sum aggregate with
    * map-side combine — the shuffle moves ONE double array per
    * (task, list) instead of |rows|·dim exploded rows (64× write
    * amplification at the testdata's width; the dominant cost of
    * coarse-quantizer training over billions of vectors). Addition
    * order differs from the dim-major form, so results agree to float
    * drift, not bitwise (spec-bounded at 1e-9 relative) — the s3
    * oracle twin therefore keeps [[centroids]].
    */
  def centroidsAgg(embeddings: DataFrame, key: Column): DataFrame =
    embeddings
      .groupBy(key.as("list_id"))
      .agg(
        graft.functions.VectorSumAggregate.vecSum(col("embedding")).as("s"),
        count(col("embedding")).as("n"))
      .select(col("list_id"),
        transform(col("s"), e => e / col("n").cast("double")).as("centroid"))

  /** s3 — IVF ANN: corpus vectors assign to their nearest centroid
    * and each query probes the `nProbe` nearest lists, scoring only
    * those lists' members. The centroid table is collected once into
    * the flat list-picker matrix ([[flatMatrix]]), so assignment and
    * probes are scan projections ([[ivfSearch]], s7's plan with a
    * one-subtree matrix): no centroid broadcast and no corpus-grain
    * argmax exchange. An empty centroid table answers empty.
    */
  def ivfTopK(
      corpus: DataFrame,
      queries: DataFrame,
      cents: DataFrame,
      k: Int,
      nProbe: Int = 2): DataFrame =
    flatMatrix(cents).fold(emptyTopK(corpus, queries, k))(
      ivfSearch(corpus, queries, _, k, 1, nProbe))

  /** IVF search through a list-picker matrix: the corpus assigns by
    * scan projection, each query probes the `nProbe` best lists of its
    * `nProbeTop` best subtrees (a flat matrix has one), and members of
    * the probed lists score exactly, top-k per query. The probes are a
    * broadcast side; the one corpus-side exchange feeds the top-k
    * aggregation. Each neighbor lives in exactly one list, so a
    * (query, neighbor) pair scores once.
    */
  private def ivfSearch(
      corpus: DataFrame, queries: DataFrame, tm: TreeMatrix, k: Int,
      nProbeTop: Int, nProbe: Int): DataFrame = {
    val assigned = corpus
      .select(col("vec_id").as("neighbor_id"),
        col("embedding").as("cv"),
        sqrt(Dedup.dot(col("embedding"), col("embedding"))).as("cn"))
      .withColumn("list_id",
        TreeQuantizerExpression.treeAssign(col("cv"), col("cn"), tm))
    val probes = queries
      .select(col("vec_id").as("query_id"),
        col("embedding").as("qv"),
        sqrt(Dedup.dot(col("embedding"), col("embedding"))).as("qn"))
      .select(col("query_id"), col("qv"), col("qn"),
        explode(TreeQuantizerExpression.probeLists(
          col("qv"), col("qn"), tm, nProbeTop, nProbe)).as("pc"))
      .select(col("query_id"), col("qv"), col("qn"),
        col("pc.list_id").as("list_id"))
    val scored = assigned.join(broadcast(probes), Seq("list_id"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos",
        Dedup.cosineWithNorms(col("qv"), col("cv"), col("qn"), col("cn")))
    topKPerQuery(
      scored.select(col("query_id"), col("neighbor_id"), col("cos")), k)
  }

  /** The (query_id, neighbor_id, cos, rank) top-k shape with no rows:
    * the answer of a search over no lists.
    */
  private def emptyTopK(
      corpus: DataFrame, queries: DataFrame, k: Int): DataFrame =
    topKPerQuery(
      queries.limit(0).select(col("vec_id").as("query_id"))
        .crossJoin(corpus.limit(0).select(col("vec_id").as("neighbor_id")))
        .withColumn("cos", lit(0.0)), k)

  /** The centroid table as the flat list picker: one collect of the
    * [[collectLeaves]] rows, norms with [[centNorms]]' arithmetic, in a
    * one-subtree [[graft.functions.TreeMatrix]]. None for an empty
    * table.
    */
  private[graft] def flatMatrix(cents: DataFrame): Option[TreeMatrix] = {
    val leaves = collectLeaves(cents)
    if (leaves.isEmpty) None
    else Some(TreeMatrix.flat(cents.schema("list_id").dataType,
      leaves.map { case (id, c) => (id, c.toSeq, vecNorm(c)) }))
  }

  /** `df` (id, embedding) with its row norm `__n` and `list_id`, the
    * nearest list of `cents` under its flat matrix `tm` — one scan
    * projection. With no centroids (`tm` None) no row is kept, as the
    * pair form's empty crossJoin kept none.
    */
  private[graft] def withNearestList(
      df: DataFrame, cents: DataFrame, tm: Option[TreeMatrix]): DataFrame = {
    val normed = df
      .withColumn("__n", sqrt(Dedup.dot(col("embedding"), col("embedding"))))
    tm match {
      case Some(m) => normed.withColumn("list_id",
        TreeQuantizerExpression.treeAssign(col("embedding"), col("__n"), m))
      case None => normed.withColumn("list_id",
        lit(null).cast(cents.schema("list_id").dataType)).filter(lit(false))
    }
  }

  /** The centroid side of the declarative twins ([[nearestLists]],
    * [[treeDescend]]): list ids, centroid vectors and their norms. The
    * twins broadcast it at their joins; VecStore collects it.
    */
  private[graft] def centNorms(cents: DataFrame): DataFrame =
    cents.select(col("list_id"), col("centroid"),
      sqrt(Dedup.dot(col("centroid"), col("centroid"))).as("cent_n"))

  /** The declarative twin of the flat list picker, kept for the specs
    * (no production path calls it): keep the `keep` best lists per
    * vector of `df` (which must carry `idCol` and `embedding`) against
    * a [[centNorms]] side, by crossJoin and an argmax exchange. The row
    * norm is returned as `__n`. The flat matrix ([[flatMatrix]]) makes
    * the same choices bit for bit, a zero norm included: a zero-norm
    * score is null ([[Dedup.cosineWithNorms]]) and ranks after every
    * scored list, so a zero vector lands in the lowest list id and a
    * zero centroid never wins a non-zero vector.
    */
  private[graft] def nearestLists(
      df: DataFrame, cn: DataFrame, idCol: String, keep: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // The list-choice score rounds to 4dp (the d5/d12 threshold
    // convention) BEFORE the argmax: two centroids near-equidistant
    // from a vector tie at 4dp and fall to the deterministic list_id
    // tie-break in BOTH engines, instead of flipping on float-summation
    // drift between Spark and the DuckDB twin. Only the choice score is
    // rounded — `__n` and downstream scoring stay exact.
    val paired = df
      .withColumn("__n", sqrt(Dedup.dot(col("embedding"), col("embedding"))))
      .crossJoin(broadcast(cn))
      .withColumn("d", round(Dedup.cosineWithNorms(
        col("embedding"), col("centroid"), col("__n"), col("cent_n")), 4))
    if (keep == 1) {
      // corpus assignment: argmax as an aggregate, not a window. The
      // window form shuffles the full |rows|·|cents| pair expansion
      // into |rows| partitions just to keep one row each; the
      // aggregate reduces every row's candidates map-side (they're
      // co-located after the broadcast crossJoin), so the shuffle
      // carries one narrow row per vector. min_by over
      // struct(-d, list_id) = ORDER BY d DESC, list_id ASC, the same
      // deterministic tie-break as the window (list_id is unique per
      // candidate, so the comparison key never ties); a null d ranks
      // last, as the window's DESC puts it.
      paired
        .groupBy(col(idCol))
        .agg(min_by(
          struct(col("list_id"), col("embedding"), col("__n")),
          struct(descNullsLast(col("d")), col("list_id"))).as("b"))
        .select(col(idCol), col("b.list_id").as("list_id"),
          col("b.embedding").as("embedding"), col("b.__n").as("__n"))
    } else {
      val w = Window.partitionBy(col(idCol))
        .orderBy(col("d").desc, col("list_id").asc)
      paired
        .withColumn("r", row_number().over(w))
        .filter(col("r") <= keep)
        .drop("centroid", "cent_n", "d", "r")
    }
  }

  /** s4 — scalar int8 quantization of the embedding column: per-vector
    * min/max affine codes in 0..255 plus reconstruction-error stats.
    * The ANN memory scale path — float32 embeddings at 100 TB corpus
    * scale are the dominant storage/shuffle cost of similarity search,
    * and int8 codes cut that 4× while a spec holds the quantized
    * search's recall against the exact baseline. Zero shuffle: one
    * scan projection of per-element arithmetic; the max abs
    * reconstruction error is ≤ scale/2 BY CONSTRUCTION (round to the
    * nearest code), which the spec asserts exactly.
    *
    * A degenerate constant vector (max = min) gets scale 0 and all-zero
    * codes — reconstruction is exact.
    */
  def quantize(embeddings: DataFrame): DataFrame = {
    // staged projections (the langId lesson: codegen subexpression
    // elimination can't dedup higher-order-function trees, so each
    // array pass is hoisted to run once per row)
    val withV = embeddings.select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("v"))
    val withScale = withV.select(col("vec_id"), col("v"),
      array_min(col("v")).as("mn"),
      ((array_max(col("v")) - array_min(col("v"))) / lit(255.0)).as("sc"))
    val mn = col("mn")
    val sc = col("sc")
    // err_i = |x − (mn + round((x−mn)/sc)·sc)| in ONE pass — the code
    // array itself never materializes here (the caller encoding for
    // storage would keep it; the stats query only needs the error)
    val withErr = withScale.select(col("vec_id"), mn, sc,
      when(sc > lit(0.0), transform(col("v"),
        x => abs(x - (mn + round((x - mn) / sc) * sc))))
        .otherwise(transform(col("v"), _ => lit(0.0))).as("ae"),
      size(col("v")).as("n"))
    withErr.select(col("vec_id"),
      round(mn, 6).as("qmin"),
      round(sc, 6).as("qscale"),
      round(aggregate(col("ae"), lit(0.0), _ + _) /
        greatest(col("n"), lit(1)), 6).as("mean_abs_err"),
      round(array_max(col("ae")), 6).as("max_abs_err"))
  }

  /** Position-order sum of squared differences — the SAME fold order in
    * both engines (zip_with preserves positions, aggregate folds left),
    * so identical inputs produce bitwise-identical distances and the
    * argmin tiebreak (code id) is the only decision surface.
    */
  private def l2sq(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0.0), _ + _)

  /** One row per (id, subspace): `sv` = the `subDim`-wide slice of the
    * full vector. The explode multiplier is `numSub` — a query-chosen
    * constant, not data-driven.
    */
  private[graft] def subVectors(
      df: DataFrame, idCol: String, numSub: Int, subDim: Int): DataFrame =
    df.select(col(idCol),
      explode(sequence(lit(0), lit(numSub - 1))).as("sub"), col("v"))
      .select(col(idCol), col("sub"),
        slice(col("v"), col("sub") * lit(subDim) + lit(1), lit(subDim))
          .as("sv"))

  // the in-query PQ codebook checkpoint, one generation per face
  // ("pqTopK" / "ivfPqTopK"): released when that face trains again
  private val codebooks = new Fixpoint.Slots

  /** s5 — product quantization: the memory scale path BEYOND s4's
    * scalar codes. Each vector splits into `numSub` subspaces; a
    * per-subspace codebook of `codebookK` codewords (seeded from the
    * `codebookK` lowest-id full-dim vectors, refined by one Lloyd
    * step — deterministic, so the DuckDB twin retrains it exactly)
    * encodes every vector as `numSub` small ints: 64 floats → 8 bytes
    * at the defaults, a 32× compression where s4 stops at 4×. Search is asymmetric
    * distance computation (ADC): per query, dot products against every
    * codeword form a (numSub × codebookK) lookup table and a corpus
    * vector's approximate dot is the sum of its codes' table entries —
    * the corpus floats are never touched at query time.
    *
    * The 100 TB shape: codebook training is s3-class (broadcast seed
    * join, map-side argmin agg, dim-major refine — the
    * [[centroidsAgg]]-style single-shuffle twin applies the same way);
    * encoding and ADC are broadcast joins (seeds, codebook, and the
    * per-query table are all structurally bounded — numSub·codebookK
    * rows regardless of corpus size) followed by narrow aggregates:
    * the shuffled rows carry (id, sub, code) ints, never embeddings.
    *
    * Vectors are unit-normalized before quantization, so the ADC dot
    * approximates COSINE — the same ranking semantic as the exact s1
    * baseline (without this, norm variation across the corpus makes
    * dot-ranked and cosine-ranked top-k disagree regardless of
    * quantization quality). Search is two-stage, the production PQ
    * shape: ADC ranks the WHOLE corpus from codes alone and keeps a
    * `shortlist` of candidates per query; only those ≤
    * shortlist·|queries| rows are re-scored against their true
    * vectors for the final exact-cosine top-k. On corpora where true
    * neighbors barely clear the background cosine (this testdata:
    * top-5 ≈ 0.3 vs p90 ≈ 0.16), pure-ADC top-k is noise-limited
    * (measured ~0.26 recall@5) while the same codes as a shortlist
    * recover 0.84 — the codes' job is candidate pruning, not final
    * ranking. Vectors whose length ≠ `dims` or with zero norm are
    * excluded (PQ requires a fixed dim; a zero vector has no
    * direction).
    */
  def pqTopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      numSub: Int = 8,
      codebookK: Int = 16,
      dims: Int = 64,
      shortlist: Int = 0,
      codebook: Option[DataFrame] = None): DataFrame = {
    require(dims % numSub == 0, s"dims $dims not divisible by $numSub")
    // shortlist 0 = AUTO: whole-corpus ADC probes every row, so the
    // shortlist scales with the corpus (the sizing count is parquet
    // metadata on a table-backed corpus; pass an explicit shortlist to
    // skip it)
    val shortlist0 =
      if (shortlist > 0) shortlist
      else scaledShortlist(corpus.count(), 1L, 1)
    val subDim = dims / numSub
    val corpusV = unitVectors(corpus, "vec_id", dims)
    val subsAll = subVectors(corpusV, "vec_id", numSub, subDim)
    // a persisted codebook ([[trainPqCodebook]] / VecStore `_pq`) skips
    // the in-query train — the production lifecycle: train once, reuse
    // per query, RETRAIN on drift (BASELINE.md round 10: when).
    // The in-query train is referenced TWICE (encode + the ADC table),
    // so it is checkpointed: the train subtree's stages run once and
    // both consumers read the numSub·codebookK-row result (structurally
    // bounded — 128 rows at the defaults — so the pinned blocks are
    // bytes, the f20b mapping-checkpoint precedent) instead of
    // replaying the train's final aggregates per consumer (r16,
    // guide §2.4 / §3.3 plan-truncation).
    val codebook0 = codebook.getOrElse(codebooks.hold("pqTopK",
      pqCodebook(corpusV, numSub, subDim, codebookK).localCheckpoint()))
    val codes = pqEncode(subsAll, codebook0)
    // ADC lookup table: query subvector · codeword, numSub·codebookK
    // rows per query — bounded by the probe set, broadcast
    val dtable = subVectors(unitVectors(queries, "query_id", dims),
      "query_id", numSub, subDim)
      .join(codebook0, Seq("sub"))
      .select(col("query_id"), col("sub"), col("code"),
        Dedup.dot(col("sv"), col("cw")).as("pd"))
    val scored = codes.join(broadcast(dtable), Seq("sub", "code"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum(col("pd")).as("cos"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("cos"))
    val short = topKPerQuery(scored, shortlist0, scoreName = "adc")
      .select(col("query_id"), col("neighbor_id"))
    // exact re-rank: the broadcast shortlist prunes the corpus scan to
    // ≤ shortlist·|queries| rows, each re-scored against its true
    // vector (unit-normalized, so cos = dot)
    val queriesV = unitVectors(queries, "query_id", dims)
      .select(col("query_id"), col("v").as("qv"))
    val rescored = corpusV
      .select(col("vec_id").as("neighbor_id"), col("v"))
      .join(broadcast(short), Seq("neighbor_id"))
      .join(broadcast(queriesV), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        Dedup.dot(col("qv"), col("v")).as("cos"))
    topKPerQuery(rescored, k)
  }

  /** Unit-normalized double vectors of exactly `dims` elements —
    * the common entry of the PQ family (zero-norm and wrong-width
    * rows are dropped; cosine over the survivors is a plain dot).
    */
  private[graft] def unitVectors(df: DataFrame, idCol: String, dims: Int): DataFrame =
    df.filter(size(col("embedding")) === dims)
      .select(col("vec_id").as(idCol),
        transform(col("embedding"), _.cast("double")).as("v0"))
      .withColumn("nrm", sqrt(Dedup.dot(col("v0"), col("v0"))))
      .filter(col("nrm") > lit(0.0))
      .select(col(idCol),
        transform(col("v0"), x => x / col("nrm")).as("v"))

  /** PQ codebook training shared by [[pqTopK]] and [[ivfPqTopK]]:
    * deterministic seeds (the codebookK lowest-id full vectors — tiny,
    * driver-bounded limit; both engines pick the identical set), then
    * ONE Lloyd step — assign every subvector to its nearest seed
    * (broadcast join; candidates are row-co-located so the groupBy
    * reduces map-side, the shuffle carries one narrow row per
    * (id, sub)) and take the dim-major mean per cluster (the
    * cross-engine-exact form, as in [[centroids]]).
    */
  /** The codebook LIFECYCLE entry: train a PQ codebook from a raw
    * (vec_id, embedding) corpus for persistence and cross-query reuse
    * (VecStore stores it as `<table>_pq`). Passing the result to
    * [[pqTopK]]/[[ivfPqTopK]] `codebook =` skips the in-query train and
    * is bit-identical to it on unchanged data (spec-asserted): the
    * train here is the SAME deterministic pipeline the queries run.
    * Production cadence: train once, reuse per query, retrain when the
    * corpus drifts — BASELINE.md round 10 records the recall decay
    * that triggers it.
    */
  def trainPqCodebook(
      corpus: DataFrame,
      numSub: Int = 8,
      codebookK: Int = 16,
      dims: Int = 64): DataFrame = {
    require(dims % numSub == 0, s"dims $dims not divisible by $numSub")
    pqCodebook(unitVectors(corpus, "vec_id", dims), numSub,
      dims / numSub, codebookK)
  }

  /** The codebook DRIFT MONITOR: mean squared quantization residual of
    * `corpus` under `codebook` — one row, `mean_sq_residual`. This is
    * the retrain trigger a production deployment alarms on: unlike
    * recall it needs no ground truth, so it can run per ingest batch
    * against the persisted codebook and compare to the trained-time
    * baseline (BASELINE.md round 10 records the separation: recall
    * stays flat under drift because the exact re-rank absorbs shortlist noise,
    * while this residual rises the moment the corpus's subspace
    * distributions leave the codebook's support). Scale shape: one
    * scan, broadcast codebook, map-side min + one global avg.
    */
  def pqQuantizationError(
      corpus: DataFrame,
      codebook: DataFrame,
      numSub: Int = 8,
      dims: Int = 64): DataFrame = {
    require(dims % numSub == 0, s"dims $dims not divisible by $numSub")
    subVectors(unitVectors(corpus, "vec_id", dims), "vec_id", numSub,
      dims / numSub)
      .join(broadcast(codebook), Seq("sub"))
      .withColumn("d", l2sq(col("sv"), col("cw")))
      .groupBy(col("vec_id"), col("sub"))
      .agg(min(col("d")).as("d"))
      .agg(avg(col("d")).as("mean_sq_residual"))
  }

  private def pqCodebook(
      corpusV: DataFrame, numSub: Int, subDim: Int,
      codebookK: Int): DataFrame = {
    val subsAll = subVectors(corpusV, "vec_id", numSub, subDim)
    val seeds = subVectors(
      corpusV.orderBy(col("vec_id")).limit(codebookK), "vec_id",
      numSub, subDim)
      .select(col("sub"), col("vec_id").as("seed_id"), col("sv").as("ssv"))
    val assigned = subsAll.join(broadcast(seeds), Seq("sub"))
      .withColumn("d", l2sq(col("sv"), col("ssv")))
      .groupBy(col("vec_id"), col("sub"))
      .agg(min_by(col("seed_id"), struct(col("d"), col("seed_id")))
        .as("code"), first(col("sv")).as("sv"))
    assigned
      .select(col("sub"), col("code"), posexplode(col("sv")))
      .groupBy(col("sub"), col("code"), col("pos"))
      .agg(avg(col("col")).as("m"))
      .groupBy(col("sub"), col("code"))
      .agg(transform(
        array_sort(collect_list(struct(col("pos"), col("m")))),
        e => e.getField("m")).as("cw"))
  }

  /** PQ encode: nearest refined codeword per (id, sub) — same
    * broadcast + map-side-argmin shape as the codebook assignment.
    */
  private[graft] def pqEncode(subsAll: DataFrame, codebook: DataFrame): DataFrame =
    subsAll.join(broadcast(codebook), Seq("sub"))
      .withColumn("d", l2sq(col("sv"), col("cw")))
      .groupBy(col("vec_id"), col("sub"))
      .agg(min_by(col("code"), struct(col("d"), col("code"))).as("code"))

  /** s6 — IVF + PQ, the production-ANN combination: the corpus coarse-
    * partitions into inverted lists (IVF — bounds WHICH vectors a
    * query touches) while PQ codes stand in for the vectors inside the
    * probed lists (bounds WHAT each comparison costs/stores). A query
    * probes its `nProbe` nearest lists, ADC-scores only code rows of
    * those lists, and the capped shortlist re-ranks exactly.
    *
    * 100 TB shape: every build side is structurally bounded (seeds,
    * codebook, ADC table × nProbe lists per query, shortlist, query
    * set — all hint-broadcast); corpus float vectors never move after
    * the one normalization scan (assignment and encode reduce
    * map-side off broadcast joins; only (id, sub, code, list) ints
    * shuffle), and the ADC join's list key cuts its probe volume by
    * ~|lists|/nProbe versus s5's whole-corpus scoring.
    *
    * Assignment and probes run through the flat list-picker matrix
    * ([[flatMatrix]], collected once) as scan projections over the unit
    * vectors with norm 1.0, so d = dot(v, c)/|c|: cosine is
    * scale-invariant, so raw-vector centroids rank identically against
    * the unit-normalized corpus. An empty centroid table answers empty.
    */
  def ivfPqTopK(
      corpus: DataFrame,
      queries: DataFrame,
      cents: DataFrame,
      k: Int,
      nProbe: Int = 2,
      numSub: Int = 8,
      codebookK: Int = 16,
      dims: Int = 64,
      shortlist: Int = 0,
      codebook: Option[DataFrame] = None,
      corpusLists: Option[DataFrame] = None): DataFrame = {
    require(dims % numSub == 0, s"dims $dims not divisible by $numSub")
    require(nProbe > 0, s"nProbe must be positive, got $nProbe")
    val tm = flatMatrix(cents) match {
      case Some(m) => m
      case None => return emptyTopK(corpus, queries, k)
    }
    // shortlist 0 = AUTO: scale with the probed candidate volume
    // (corpus·nProbe/lists) — the r10 operating grid measured recall
    // pinned by a FIXED shortlist, not by nProbe; [[scaledShortlist]]
    // encodes the measured recovery rule
    val shortlist0 =
      if (shortlist > 0) shortlist
      else scaledShortlist(corpus.count(), tm.leafCount, nProbe)
    val subDim = dims / numSub
    val corpusV = unitVectors(corpus, "vec_id", dims)
    val queriesV = unitVectors(queries, "query_id", dims)
    // a VecStore supplies its stored (vec_id, list_id) layout here —
    // the assignment is then a narrow read instead of a projection
    val corpusLists0 = corpusLists.getOrElse(corpusV.select(col("vec_id"),
      TreeQuantizerExpression.treeAssign(col("v"), lit(1.0), tm)
        .as("list_id")))
    val probeLists = queriesV
      .select(col("query_id"), explode(TreeQuantizerExpression.probeLists(
        col("v"), lit(1.0), tm, 1, nProbe)).as("pc"))
      .select(col("query_id"), col("pc.list_id").as("list_id"))
    val subsAll = subVectors(corpusV, "vec_id", numSub, subDim)
    // checkpointed for the same two-consumer reason as [[pqTopK]]'s
    // in-query train (structurally bounded — 128 rows at the defaults)
    val codebook0 = codebook.getOrElse(codebooks.hold("ivfPqTopK",
      pqCodebook(corpusV, numSub, subDim, codebookK).localCheckpoint()))
    // narrow (vec_id, sub, code) rows pick up their list id — ints
    // only, never the vectors
    val codes = pqEncode(subsAll, codebook0)
      .join(corpusLists0, Seq("vec_id"))
    val dtable = subVectors(queriesV, "query_id", numSub, subDim)
      .join(codebook0, Seq("sub"))
      .select(col("query_id"), col("sub"), col("code"),
        Dedup.dot(col("sv"), col("cw")).as("pd"))
      .join(probeLists, Seq("query_id")) // × nProbe — still bounded
    val scored = codes
      .join(broadcast(dtable), Seq("sub", "code", "list_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum(col("pd")).as("cos"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("cos"))
    val short = topKPerQuery(scored, shortlist0, scoreName = "adc")
      .select(col("query_id"), col("neighbor_id"))
    val rescored = corpusV
      .select(col("vec_id").as("neighbor_id"), col("v"))
      .join(broadcast(short), Seq("neighbor_id"))
      .join(broadcast(queriesV.select(col("query_id"), col("v").as("qv"))),
        Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        Dedup.dot(col("qv"), col("v")).as("cos"))
    topKPerQuery(rescored, k)
  }

  /** The MEASURED shortlist scaling rule, shared by every PQ serving
    * face (s5 [[pqTopK]], s6 [[ivfPqTopK]], and
    * [[graft.sources.VecStore.ivfPqTopK]]): recall at a FIXED
    * shortlist collapses as probed candidate volume grows — the r10
    * operating grid read ~0.40 recall@5 at sf1 regardless of nProbe —
    * because ADC's job is candidate pruning and a constant-size
    * shortlist keeps a shrinking FRACTION of the probed candidates.
    * The r11 shortlist axis (IvfPqOperatingProbe, sf1, 1600 probed
    * candidates/query) measured the recovery: 50 → 0.400, 100 → 0.640,
    * 200 → 0.992, 400 → 0.996 at flat latency. The rule keeps the
    * shortlist at 1/8 of probed volume (the measured 0.99 knee),
    * floored at the small-corpus default 50:
    * max(50, corpus·nProbe/lists/8), integer floor division — the
    * DuckDB twins compute the identical expression with `//`.
    */
  def scaledShortlist(corpusRows: Long, lists: Long, nProbe: Int): Int =
    math.min(
      math.max(50L, corpusRows * nProbe / math.max(lists, 1L) / 8L),
      Int.MaxValue.toLong).toInt

  /** Two-level (TREE) coarse quantizer — r12, the scale path past the
    * flat list argmax: `nearestLists` scores every vector against
    * EVERY centroid, so coarse assignment costs |rows|·L pair scores
    * and the broadcast centroid table grows linearly in L. At the
    * inverted-list counts a 100 TB corpus wants (√N ≈ 10⁵–10⁶ lists,
    * the FAISS sizing rule), both break. The tree groups the L leaf
    * centroids under `topCount` super-centroids; assignment then
    * scores `topCount + ~L/topCount` candidates per vector (minimized
    * at topCount = √L: 2√L vs L — 500× fewer at L = 10⁶), and the
    * level-2 broadcast join fans each vector out to ONLY its
    * super-centroid's children.
    *
    * Training follows the s5 codebook discipline so both engines
    * derive the identical tree (cross-engine exact, oracle-gated via
    * s7): seeds = the `topCount` lowest-list_id leaf centroids, one
    * Lloyd step (assign leaves → seed by 4dp-rounded cosine with
    * top_id tie-break; refine = dim-major member mean), then leaves
    * RE-assign to the refined tops so the map is consistent with the
    * tops queries will probe. Returns (tops(top_id, centroid),
    * leafMap(list_id, top_id)).
    *
    * The leaf centroids are bounded (≤ L rows), so the training is one
    * collect and plain Scala on the driver ([[trainTree]]) and both
    * results are local frames: no Spark job beyond the collect, no
    * checkpoint, nothing pinned for the caller to release.
    */
  def treeQuantizer(
      cents: DataFrame, topCount: Int): (DataFrame, DataFrame) = {
    import scala.jdk.CollectionConverters._
    val idField = cents.schema("list_id")
    val tree = trainTree(idField.dataType, collectLeaves(cents), topCount)
    val spark = cents.sparkSession
    val tops = spark.createDataFrame(
      tree.tops.map { case (t, c) => Row(t, c.toSeq) }.asJava,
      StructType(Seq(StructField("top_id", LongType),
        StructField("centroid", ArrayType(DoubleType)))))
    val leafMap = spark.createDataFrame(
      tree.leafTop.map { case (id, t) => Row(id, t) }.asJava,
      StructType(Seq(idField, StructField("top_id", LongType))))
    (tops, leafMap)
  }

  /** The leaf centroids on the driver as (list_id, centroid) — the one
    * collect the tree training reads.
    */
  private def collectLeaves(cents: DataFrame): Seq[(Any, Array[Double])] =
    cents.select(col("list_id"), col("centroid")).collect().toSeq
      .map(r => (r.get(0), r.getSeq[Double](1).toArray))

  /** A trained tree: the refined tops in top_id order and each leaf's
    * top, leaves in list_id order.
    */
  private[graft] final case class TrainedTree(
      tops: Seq[(Long, Array[Double])], leafTop: Seq[(Any, Long)])

  /** [[treeQuantizer]]'s training over collected leaf centroids, choice
    * for choice the declarative form it replaced (the spec twin):
    *   - seeds: the `topCount` first leaves in Spark's ascending
    *     `list_id` order (nulls first, then the Catalyst ordering
    *     [[graft.functions.TreeMatrix.build]] sorts by), top_id = rank;
    *   - a leaf's top: min of (-round(cos, 4), top_id) — Spark's HALF_UP
    *     round, Spark's double ordering (NaN above every number, equal
    *     to itself), ties to the lowest top_id. A zero-norm leaf scores
    *     NaN against every top and lands in the lowest one (the
    *     declarative twin scores it null against every top, a tie
    *     that falls to the lowest top_id too);
    *   - cosines and norms fold with [[graft.functions
    *     .DotProductExpression]]'s `dotDD` loop;
    *   - a refined top is the dim-major mean of its seed members, in
    *     list_id order; a seed with no member has no refined top.
    */
  private[graft] def trainTree(
      idType: DataType, leaves: Seq[(Any, Array[Double])],
      topCount: Int): TrainedTree = {
    import org.apache.spark.sql.catalyst.CatalystTypeConverters
    import org.apache.spark.sql.catalyst.util.{SQLOrderingUtil, TypeUtils}
    val conv = CatalystTypeConverters.createToCatalystConverter(idType)
    val ord = TypeUtils.getInterpretedOrdering(idType)
    val sorted = leaves.map(l => (l, conv(l._1))).sortWith {
      case ((_, a), (_, b)) =>
        if (a == null || b == null) a == null && b != null
        else ord.compare(a, b) < 0
    }.map { case ((id, c), _) => (id, c, vecNorm(c)) }
    // every leaf with its top; no leaf has one when there is no top
    def assign(tops: Seq[(Long, Array[Double], Double)]) =
      if (tops.isEmpty) Nil
      else sorted.map { case (id, c, n) =>
        val top = tops.map { case (t, tc, tn) =>
          (t, -TreeMatrix.round4(vecDot(c, tc) / (n * tn)))
        }.reduceLeft((a, b) =>
          if (SQLOrderingUtil.compareDoubles(b._2, a._2) < 0) b else a)._1
        (id, c, top)
      }
    val seeds = sorted.take(math.max(topCount, 0)).zipWithIndex
      .map { case ((_, c, n), i) => (i.toLong, c, n) }
    val tops = assign(seeds).groupBy(_._3).toSeq.sortBy(_._1)
      .map { case (t, ms) => (t, dimMean(ms.map(_._2))) }
      .filter(_._2.nonEmpty)
    TrainedTree(tops,
      assign(tops.map { case (t, c) => (t, c, vecNorm(c)) })
        .map { case (id, _, t) => (id, t) })
  }

  /** Per-position mean over the member vectors that have the position
    * — `avg` over posexplode, summed in member order.
    */
  private def dimMean(ms: Seq[Array[Double]]): Array[Double] =
    Array.tabulate(ms.map(_.length).max) { p =>
      val xs = ms.collect { case m if m.length > p => m(p) }
      xs.foldLeft(0.0)(_ + _) / xs.size
    }

  private def vecDot(a: Array[Double], b: Array[Double]): Double =
    graft.functions.DotProductExpression.dotDD(
      new GenericArrayData(a), new GenericArrayData(b))

  private def vecNorm(c: Array[Double]): Double = math.sqrt(vecDot(c, c))

  /** The level-2 side of the tree descent, broadcast at
    * [[treeDescend]]'s join: leaf centroids with precomputed norms,
    * annotated with their subtree — centroid-grain, checkpointed
    * (consumed by the corpus descent AND the probe ranking). A spec
    * twin: the served paths carry the tree in a
    * [[graft.functions.TreeMatrix]].
    */
  private[graft] def treeLeaves(
      cents: DataFrame, leafMap: DataFrame): DataFrame =
    cents.select(col("list_id"), col("centroid"),
      sqrt(Dedup.dot(col("centroid"), col("centroid"))).as("leaf_n"))
      .join(leafMap, Seq("list_id"))
      .localCheckpoint()

  /** The `min_by` sort key of a score ranked descending with a null
    * (zero-norm) score last: −d, and +∞ for null.
    */
  private def descNullsLast(d: Column): Column =
    coalesce(-d, lit(Double.PositiveInfinity)).as("nd")

  /** The declarative twin of the tree descent, kept for the specs (no
    * production path calls it; [[graft.functions.TreeMatrix]] makes
    * the same choices bit for bit): nearest top over `topCn`
    * (`topCount` candidates, [[nearestLists]]), then nearest leaf among
    * ONLY that top's children (broadcast join on top_id). Both argmaxes
    * 4dp-rounded with id tie-break. Returns (idCol, list_id, embedding,
    * __n).
    */
  private[graft] def treeDescend(
      df: DataFrame, idCol: String,
      topCn: DataFrame, leaves: DataFrame): DataFrame =
    nearestLists(df, topCn, idCol, 1)
      .select(col(idCol), col("list_id").as("top_id"),
        col("embedding"), col("__n"))
      .join(broadcast(leaves), Seq("top_id"))
      .withColumn("d", round(Dedup.cosineWithNorms(
        col("embedding"), col("centroid"), col("__n"), col("leaf_n")), 4))
      .groupBy(col(idCol))
      .agg(min_by(
        struct(col("list_id"), col("embedding"), col("__n")),
        struct(descNullsLast(col("d")), col("list_id"))).as("b"))
      .select(col(idCol), col("b.list_id").as("list_id"),
        col("b.embedding").as("embedding"), col("b.__n").as("__n"))

  /** s7 — IVF ANN through the [[treeQuantizer]]: corpus vectors and
    * query probes descend the tree (nearest super-centroid, then
    * nearest leaf among ONLY that super-centroid's children) instead
    * of scanning all L centroids; queries probe `nProbeTop` subtrees
    * and the `nProbe` best leaves found inside them; members of the
    * probed leaves score exactly, top-k per query.
    *
    * Build: one collect of the L leaf centroids. The driver trains the
    * tree from those rows ([[trainTree]]) and packs it into a
    * [[graft.functions.TreeMatrix]]; no other job runs and nothing is
    * checkpointed, so the returned plan pins no RDD.
    *
    * Plan shape: [[ivfSearch]], the s3 plan with the tree matrix (the
    * join form, [[treeDescend]], is its spec twin). Tree assignment is
    * approximate vs the flat argmax (a vector whose nearest leaf lives
    * under a different subtree mis-assigns — the standard tree-IVF
    * trade; BASELINE.md round 12 records the agreement rate and the
    * assignment speedup at L = 100 and L = 1000).
    */
  def ivfTreeTopK(
      corpus: DataFrame,
      queries: DataFrame,
      cents: DataFrame,
      k: Int,
      topCount: Int,
      nProbeTop: Int = 2,
      nProbe: Int = 3): DataFrame = {
    // the leaf centroids are collected once: the driver trains the tree
    // from those rows ([[trainTree]]) and the same rows fill the
    // matrix's leaves, with [[centNorms]]' norm arithmetic
    val idType = cents.schema("list_id").dataType
    val leaves = collectLeaves(cents)
    val tree = trainTree(idType, leaves, topCount)
    // an empty corpus trains no tree
    if (tree.tops.isEmpty) return emptyTopK(corpus, queries, k)
    val leafTop = tree.leafTop.toMap
    val leavesByTop = leaves
      .map { case (id, c) => (id, c.toSeq, vecNorm(c)) }
      .groupBy(l => leafTop(l._1))
    val topSeq = tree.tops.map { case (t, c) => (t, c.toSeq, vecNorm(c)) }
    ivfSearch(corpus, queries,
      TreeMatrix.build(idType, topSeq, leavesByTop), k, nProbeTop, nProbe)
  }

  /** One MMR candidate: id, 4dp-scaled relevance-to-query, embedding. */
  final case class MmrCand(nid: Long, rel4: Long, cv: Seq[Float])

  /** s8 — MMR-diversified top-k (Maximal Marginal Relevance, Carbonell
    * & Goldstein, SIGIR 1998): after ANN retrieval, greedily re-rank a
    * bounded shortlist so each pick balances relevance to the query
    * against redundancy with what's already picked — the diversity
    * pass a training-data sampler runs so "top-k nearest" doesn't
    * return k near-copies. λ = 0.7 fixed, and every quantity is
    * INTEGER-exact so both engines and any partitioning agree
    * bit-for-bit on every greedy decision (the q20b/q24 rationale at
    * selection grain): rel4/sim4 = round(round(cos, 4) · 10⁴) as
    * BIGINT, score = 7·rel4 − 3·max(sim4 over picked), ties → smaller
    * neighbor id. The shortlist itself ranks by (rel4 DESC, id) — the
    * ROUNDED integer — so shortlist membership can't diverge on raw
    * double ordering either.
    *
    * Scale shape: scoring is s1's broadcast-query scan; the shortlist
    * window bounds each query's candidate set to `shortlist` rows;
    * the greedy runs IN-PARTITION on collected per-query arrays
    * (shortlist-bounded structs — k·shortlist sims per query, never a
    * pairwise join), so the only exchanges are the shortlist window
    * and the per-query grouping. Nothing is corpus² anywhere.
    */
  def mmrTopK(
      corpus: DataFrame,
      queries: DataFrame,
      shortlist: Int = 40,
      k: Int = 8): DataFrame = {
    require(shortlist >= k, s"mmrTopK: shortlist ($shortlist) must be >= k ($k)")
    import org.apache.spark.sql.expressions.Window
    val spark = corpus.sparkSession
    import spark.implicits._
    // zero-norm embeddings have no cosine: drop them on BOTH sides
    // (the oracle applies the same filter) instead of letting a NaN
    // ride into the integer rounding and kill the job
    val q = queries.select(col("vec_id").as("query_id"),
      col("embedding").as("qv"),
      sqrt(Dedup.dot(col("embedding"), col("embedding"))).as("qn"))
      .filter(col("qn") > 0.0)
    val c = corpus.select(col("vec_id").as("nid"),
      col("embedding").as("cv"),
      sqrt(Dedup.dot(col("embedding"), col("embedding"))).as("cn"))
      .filter(col("cn") > 0.0)
    val scored = c.crossJoin(broadcast(q))
      .filter(col("nid") =!= col("query_id"))
      .withColumn("rel4",
        round(round(Dedup.cosineWithNorms(col("qv"), col("cv"),
          col("qn"), col("cn")), 4) * 10000).cast("long"))
    val short = scored
      .withColumn("__rn", row_number().over(Window.partitionBy(col("query_id"))
        .orderBy(col("rel4").desc, col("nid"))))
      .filter(col("__rn") <= shortlist)
      .groupBy(col("query_id"))
      .agg(collect_list(struct(col("nid"), col("rel4"), col("cv"))).as("cands"))
      .as[(Long, Seq[MmrCand])]
    short.flatMap { case (qid, cands0) =>
      val cands = cands0.toArray
      val n = cands.length
      val norms = cands.map(cd => math.sqrt(selfDot(cd.cv)))
      val picked = Array.fill(n)(false)
      // max sim4 vs picked so far — the LITERAL max (negative when the
      // pick set is anti-correlated with the candidate: redundancy can
      // be a bonus), unset until the first pick lands; every survivor
      // is refreshed after each pick, so from rank 2 on it is the true
      // max over the picked set
      val maxSim4 = Array.fill(n)(Long.MinValue)
      val out = Seq.newBuilder[(Long, Long, Long, Long)]
      var r = 1
      while (r <= math.min(k, n)) {
        var best = -1
        var bestScore = Long.MinValue
        var bestNid = Long.MaxValue
        var i = 0
        while (i < n) {
          if (!picked(i)) {
            val sc = 7L * cands(i).rel4 -
              (if (r == 1) 0L else 3L * maxSim4(i))
            if (sc > bestScore || (sc == bestScore && cands(i).nid < bestNid)) {
              best = i; bestScore = sc; bestNid = cands(i).nid
            }
          }
          i += 1
        }
        picked(best) = true
        out += ((qid, cands(best).nid, r.toLong, bestScore))
        // fold the new pick into every survivor's redundancy term
        var j = 0
        while (j < n) {
          if (!picked(j)) {
            val s4 = sim4(cands(j).cv, norms(j), cands(best).cv, norms(best))
            if (s4 > maxSim4(j)) maxSim4(j) = s4
          }
          j += 1
        }
        r += 1
      }
      out.result()
    }.toDF("query_id", "neighbor_id", "rank", "mmr_scaled")
  }

  /** Sequential float-to-double dot — the [[graft.functions
    * .DotProductExpression]] fold, element order and double adds
    * identical to both engines' array dot.
    */
  private def selfDot(v: Seq[Float]): Double = {
    var s = 0.0
    var i = 0
    while (i < v.length) { s += v(i).toDouble * v(i).toDouble; i += 1 }
    s
  }

  /** round(round(cos, 4) · 10⁴) as the exact integer both engines
    * compute: 4dp via BigDecimal HALF_UP (= SQL round), then the
    * scale-up rounds away the 1e-12 binary residue.
    */
  private def sim4(a: Seq[Float], na: Double, b: Seq[Float], nb: Double): Long = {
    var s = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { s += a(i).toDouble * b(i).toDouble; i += 1 }
    val r4 = java.math.BigDecimal.valueOf(s / (na * nb))
      .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
    math.round(r4 * 10000.0)
  }
}
