package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale training-data pipelines.
  *
  * Six strategies over a `documents(doc_id, text, ...)` table, ordered
  * by cost/recall trade-off:
  *   - exact:   normalized-text hash groupBy (one shuffle, no pairs)
  *   - jaccard: exact word-set Jaccard within a blocking key (equi-join
  *              on tokens — never a cross join)
  *   - containment: exact |A∩B|/min overlap — the asymmetric
  *              subset/quote near-dups Jaccard structurally misses
  *   - minhash: MinHash signatures → LSH band buckets → candidate pairs
  *              (the 100 TB scale path: pair generation is an equi-join
  *              on band keys)
  *   - simhash: 64-bit SimHash signature per doc (near-dup by hamming
  *              distance on the signature)
  *   - embedding: cosine near-dup pairs over an embedding column
  *
  * Plus the retention decision after clustering ([[keepBest]]).
  *
  * All hashing is md5-derived so results are engine-portable (the DuckDB
  * oracle computes the identical values); everything stays inside
  * whole-stage codegen — no UDFs.
  */
object Dedup {

  /** Whitespace-normalized lowercase text. */
  def normText(c: Column): Column =
    trim(regexp_replace(lower(c), "\\s+", " "))

  /** Non-empty lowercase word array. */
  def words(c: Column): Column =
    filter(split(lower(c), "\\s+"), w => length(w) > 0)

  /** A 60-bit engine-portable hash: first 15 hex chars of md5, seeded.
    * DuckDB twin: CAST(concat('0x', substr(md5(seed || ':' || x),1,15))
    * AS BIGINT).
    */
  def md5Hash60(seed: Column, c: Column): Column =
    conv(substring(md5(concat(seed.cast("string"), lit(":"), c)), 1, 15),
      16, 10).cast("long")

  /** d1 — exact dedup: group identical normalized texts; every doc maps
    * to the smallest doc_id holding the same content hash. At scale this
    * is one map-side-combinable shuffle on a 128-bit hash — no pair
    * materialization at all.
    */
  def exact(documents: DataFrame): DataFrame = {
    // Windows over the hash instead of agg + join-back: ONE shuffle on
    // content_hash and the scan is read once.
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("content_hash"))
    documents
      .select(col("doc_id"), md5(normText(col("text"))).as("content_hash"))
      .withColumn("canonical_doc_id", min(col("doc_id")).over(w))
      .withColumn("n_dups", count(lit(1)).over(w))
      .select(col("doc_id"), col("canonical_doc_id"), col("content_hash"),
        col("n_dups"))
  }

  /** (doc_id, source, hs: sorted 60-bit token hashes, n: distinct-token
    * count) — the ONE tokenize+hash+sort scan shared by the set-overlap
    * operators ([[ngramJaccard]], [[containmentPairs]]) so their
    * token semantics cannot drift apart.
    */
  private def tokenSets(documents: DataFrame): DataFrame = documents
    .select(col("doc_id"), col("source"),
      graft.functions.TokenHashesExpression.tokenHashes(
        words(col("text")), seed = 0).as("hs"))
    .withColumn("n", size(col("hs")).cast("long"))

  /** d2 — exact n-gram (word-set) Jaccard pairs within a blocking key
    * (`source` mirrors how a production pipeline shards exact-Jaccard
    * by domain/bucket), with PREFIX FILTERING (AllPairs/PPJoin,
    * Bayardo et al. WWW'07) bounding the candidate join.
    *
    * Prefix filter: order each doc's tokens by ascending document
    * frequency (ties by token); a pair with Jaccard ≥ τ must overlap by
    * at least ⌈τ·n⌉ tokens on each side, so the two docs MUST share a
    * token inside their first `n − ⌈τ·n⌉ + 1` tokens. The candidate
    * join therefore touches only those prefix tokens — the globally
    * rarest ~(1−τ) fraction — instead of every token. This is LOSSLESS
    * (no false negatives), so results are bit-identical to the naive
    * all-token join and the DuckDB oracle keeps the naive formulation.
    * Candidates are then verified exactly with one `array_intersect`
    * per pair. Measured at sf0.1: 11.2M join rows → 1.05M.
    *
    * Unlike a df-cutoff (drop tokens with df > maxDf), prefix filtering
    * needs no tuning knob and never changes the answer; a ubiquitous
    * token lands in no doc's prefix, so it vanishes from the join
    * automatically. The ⌈τ·n⌉ is computed as ceil(τ·n − 1e-9): fp error
    * can only LENGTHEN the prefix (safe), never shorten it.
    *
    * Measured alternative (rejected): pairing docs on the block key and
    * intersecting arrays per pair carries two word arrays through every
    * joined row — 2.4× slower at sf0.1 than narrow exploded rows. Here
    * arrays are joined only onto the verified-candidate set, which the
    * prefix filter keeps small.
    */
  def ngramJaccard(documents: DataFrame, minJaccard: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Token sets carried as SORTED 60-bit hashes: candidate keys and the
    // verify merge compare longs instead of strings (measured 2.1× on
    // verify). `n` stays the exact string-set size (distinctness is on
    // the WORD, so the hash-array length is the distinct-token count; a
    // within-doc hash collision, ~2^-51 per doc, is the only way counts
    // could drift). One compiled pass per row (TokenHashesExpression;
    // [[tokenHashesComposed]] is the spec-asserted parity twin).
    val toks = tokenSets(documents)
    // Three consumers (the prefix/candidate path and both verify sides)
    // each recompute this tokenize+hash+sort scan (0.4s/eval at sf0.1).
    // Measured alternative (rejected): repartition(doc_id) to share one
    // exchange across all three — end-to-end it's a wash (within run
    // noise, 3 runs each way), because the saved recomputes are paid
    // back shuffling the fat hash-array rows. Kept recompute-from-
    // parquet: same speed, one less exchange to spill at scale.
    val exploded = toks.select(col("doc_id"), col("source"), col("n"),
      explode(col("hs")).as("h"))
    val byDf = Window.partitionBy(col("source"), col("h"))
    val byDoc = Window.partitionBy(col("doc_id"))
      .orderBy(col("df"), col("h"))
    val prefix = exploded
      .withColumn("df", count(lit(1)).over(byDf))
      .withColumn("rk", row_number().over(byDoc))
      .filter(col("rk") <= col("n") - ceil(col("n") * minJaccard - 1e-9) + 1)
      .select(col("doc_id"), col("source"), col("h"))
    val cands = prefix
      .select(col("source"), col("h"), col("doc_id").as("left_id"))
      .join(prefix.select(col("source"), col("h"),
        col("doc_id").as("right_id")), Seq("source", "h"))
      .filter(col("left_id") < col("right_id"))
      .select(col("left_id"), col("right_id"))
      .transform(Fpx.distinctPairs)
    val lt = toks.select(col("doc_id").as("left_id"),
      col("hs").as("lhs"), col("n").as("ln"))
    val rt = toks.select(col("doc_id").as("right_id"),
      col("hs").as("rhs"), col("n").as("rn"))
    cands.join(lt, Seq("left_id")).join(rt, Seq("right_id"))
      .withColumn("inter",
        graft.functions.SortedIntersectSizeExpression
          .sortedIntersectSize(col("lhs"), col("rhs")))
      .withColumn("jaccard",
        col("inter").cast("double") /
          (col("ln") + col("rn") - col("inter")).cast("double"))
      .filter(col("jaccard") >= minJaccard)
      .select(col("left_id"), col("right_id"),
        round(col("jaccard"), 6).as("jaccard"))
  }

  /** d9 — containment pairs: |A∩B| / min(|A|,|B|) ≥ τ within a source
    * block — the ASYMMETRIC overlap Jaccard structurally misses: a
    * short document quoted whole inside a long one has containment 1.0
    * but Jaccard ≈ |B|/|A| (arbitrarily small), so quote/subset dups
    * sail through d2. The standard second pass of a dedup pipeline.
    *
    * Lossless asymmetric prefix filter: for a qualifying pair let B be
    * the smaller side (ties by id). |A∩B| ≥ ⌈τ·n_B⌉, so by pigeonhole
    * B's first n_B − ⌈τ·n_B⌉ + 1 tokens in ascending global-df order
    * contain a shared token. B therefore PROBES only its prefix — but
    * unlike the Jaccard filter the INDEX side must carry every token
    * of the larger docs (the shared token can sit anywhere in A). The
    * join stays bounded because probe prefixes hold each doc's
    * globally RAREST tokens: a ubiquitous token appears on the index
    * side with its full df but in almost no probe prefix, so its join
    * fan-out collapses; candidates are then verified exactly on the
    * sorted hash arrays. No false negatives (the oracle keeps the
    * naive all-pairs formulation).
    */
  def containmentPairs(
      documents: DataFrame, minContainment: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = tokenSets(documents)
    val exploded = toks.select(col("doc_id"), col("source"), col("n"),
      explode(col("hs")).as("h"))
    val byDf = Window.partitionBy(col("source"), col("h"))
    val byDoc = Window.partitionBy(col("doc_id"))
      .orderBy(col("df"), col("h"))
    val probe = exploded
      .withColumn("df", count(lit(1)).over(byDf))
      .withColumn("rk", row_number().over(byDoc))
      .filter(col("rk") <=
        col("n") - ceil(col("n") * minContainment - 1e-9) + 1)
      .select(col("doc_id").as("probe_id"), col("source"), col("h"),
        col("n").as("pn"))
    val indexed = exploded.select(col("doc_id").as("index_id"),
      col("source"), col("h"), col("n").as("ix_n"))
    val cands = probe.join(indexed, Seq("source", "h"))
      // the probe must be the smaller side (ties broken by id) so each
      // unordered pair is generated from exactly one direction
      .filter(col("pn") < col("ix_n") ||
        (col("pn") === col("ix_n") && col("probe_id") < col("index_id")))
      .select(least(col("probe_id"), col("index_id")).as("left_id"),
        greatest(col("probe_id"), col("index_id")).as("right_id"))
      .transform(Fpx.distinctPairs)
    val lt = toks.select(col("doc_id").as("left_id"),
      col("hs").as("lhs"), col("n").as("ln"))
    val rt = toks.select(col("doc_id").as("right_id"),
      col("hs").as("rhs"), col("n").as("rn"))
    cands.join(lt, Seq("left_id")).join(rt, Seq("right_id"))
      .withColumn("inter",
        graft.functions.SortedIntersectSizeExpression
          .sortedIntersectSize(col("lhs"), col("rhs")))
      .withColumn("containment",
        col("inter").cast("double") /
          least(col("ln"), col("rn")).cast("double"))
      .filter(col("containment") >= minContainment)
      .select(col("left_id"), col("right_id"),
        round(col("containment"), 6).as("containment"))
  }

  /** The `functions._`-only twin of the token-hash build inside
    * [[ngramJaccard]] (spec-asserted value-identical): distinct words,
    * per-word seeded 60-bit md5, ascending sort.
    */
  def tokenHashesComposed(c: Column): Column =
    array_sort(transform(array_distinct(words(c)),
      w => md5Hash60(lit(0), w)))

  /** MinHash signature: for seed i, the min md5Hash60 over the doc's
    * word 3-shingles. Pure expression — computed in one scan, no
    * shuffle until the band join.
    *
    * Single-pass fold: one traversal of the shingle array computes all
    * `numHashes` minima at once. The naive
    * `transform(seeds, i -> array_min(transform(shingles, ...)))` form
    * re-evaluates the whole shingle-construction tree once PER SEED
    * (lambda-captured subtrees aren't CSE'd across evaluations), which
    * measured ~20× slower.
    */
  def minhashSignature(shingles: Column, numHashes: Int): Column =
    graft.functions.MinHashSignatureExpression.minhash(shingles, numHashes)

  /** Pure-`functions._` twin of [[minhashSignature]] — value-identical;
    * kept for the parity spec. Independent md5 per (seed, shingle):
    * cheaper double-hashing variants (h1 + s_i·h2 from digest slices)
    * were measured to correlate per-seed argmins — a doc's
    * jointly-small shingle wins every seed — which 3-4×'d the
    * candidate set. Scan-side hashing is embarrassingly parallel;
    * candidate inflation hits the shuffle/verify stages, so
    * independence wins at scale.
    */
  def minhashSignatureExpr(shingles: Column, numHashes: Int): Column =
    aggregate(
      shingles,
      array_repeat(lit(Long.MaxValue), numHashes),
      (acc, sh) =>
        zip_with(
          acc,
          transform(sequence(lit(0), lit(numHashes - 1)),
            i => md5Hash60(i, sh)),
          (a, h) => least(a, h)))

  /** Word 3-shingles (distinct, first-occurrence order).
    *
    * Built with zip_with over shifted slices instead of
    * `transform(sequence, i -> element_at(ws, i))`: element_at inside a
    * lambda re-evaluates the word-array expression tree PER ELEMENT
    * (lambda args aren't CSE'd), turning an O(n) shingle build into
    * O(n²) re-splits of the text. zip_with evaluates each input array
    * exactly once.
    */
  def shingles3(c: Column): Column = shinglesN(c, 3)

  /** Word n-shingles (distinct, first-occurrence order) — ONE compiled
    * pass per row ([[graft.functions.ShinglesExpression]]); the
    * composed higher-order-function form is kept as
    * [[shinglesNComposed]], the spec-asserted value- AND
    * order-identical parity twin.
    */
  def shinglesN(c: Column, n: Int): Column =
    graft.functions.ShinglesExpression.shingles(words(c), n)

  /** The `functions._`-only twin of [[shinglesN]], built by chaining
    * zip_with over shifted slices — each zip evaluates its input
    * arrays exactly once (an `element_at`-in-lambda form would
    * re-split the text per element; lambda args aren't CSE'd). zip_with
    * pads the shorter side with null, so the final slice to
    * `len − (n−1)` drops the padded tail before distinct. n−1
    * interpreted walks per row (HOFs never codegen) — use the native
    * form in hot paths.
    */
  def shinglesNComposed(c: Column, n: Int): Column = {
    require(n >= 2, s"shingle width must be >= 2, got $n")
    val ws = words(c)
    val sz = size(ws)
    var acc = ws
    for (k <- 2 to n)
      acc = zip_with(acc, slice(ws, lit(k), greatest(sz - (k - 1), lit(0))),
        (a, b) => concat(a, lit(" "), b))
    when(sz >= n,
      array_distinct(slice(acc, lit(1), greatest(sz - (n - 1), lit(0)))))
      .otherwise(array().cast("array<string>"))
  }

  /** The MinHash band shape of the near-dup faces: [[bandHashes]]
    * hashes in bands of [[bandRows]] rows. A DocStore `_bands` index
    * and st12's stream key on it and d3 defaults to it, so their band
    * keys agree; an index probed or rebuilt under another shape shares
    * no band key with the one it was written under, and would miss
    * every candidate silently.
    */
  val bandHashes = 12
  val bandRows = 2

  /** The band keys of a document `text`, one per band (the band index
    * is the key's array position): ONE fused kernel, words →
    * shingles → signature → band keys, with no per-row shingle,
    * signature or struct array materializing (r8; spec-equal to the
    * composed signature-then-slice form,
    * [[minhashBandKeysComposed]]). Callers keep only texts of at least
    * 3 words.
    */
  def bandKeys(text: Column, numHashes: Int = bandHashes,
      rowsPerBand: Int = bandRows): Column =
    graft.functions.MinHashSignatureExpression.minhashBands(
      words(text), 3, numHashes, rowsPerBand)

  /** d3 — MinHash + LSH candidate pairs. `numHashes` hashes split into
    * bands of `rowsPerBand`; docs sharing any band key become a pair.
    * The scale path for 100 TB dedup: band keys are computed in the
    * scan (no shuffle), pair generation is an equi-join on (band, key)
    * and the per-bucket expansion uses the same sorted-set combination
    * expansion as xref blocking.
    */
  def minhashLsh(
      documents: DataFrame,
      numHashes: Int = bandHashes,
      rowsPerBand: Int = bandRows,
      maxBucket: Int = 1000): DataFrame = {
    val bands = documents
      .filter(size(words(col("text"))) >= 3)
      .select(col("doc_id"),
        posexplode(bandKeys(col("text"), numHashes, rowsPerBand)))
      .select(col("doc_id"), col("pos").as("band"), col("col").as("key"))
    // sketch-guarded set build (a degenerate corpus — e.g. millions of
    // near-identical boilerplate docs — lands in ONE bucket; the guard
    // keeps that bucket's buffer from materializing before the size
    // filter) + balanced chunked expansion, same machinery as xref
    // blocking
    val buckets = Fpx.boundedMemberSets(
      bands, Seq("band", "key"), "doc_id", 2, maxBucket)
    Fpx.distinctPairs(Fpx.expandSortedSets(buckets.select(col("ids"))))
  }

  /** The `functions._`-composed twin of the fused band-keys kernel
    * inside [[minhashLsh]] (spec-asserted value- and order-identical):
    * signature via the already-proven fused words→signature
    * expression, then the interpreted slice/concat_ws band build the
    * pre-r8 projection ran per row.
    */
  def minhashBandKeysComposed(
      words: Column, n: Int, numHashes: Int, rowsPerBand: Int): Column = {
    val sig = graft.functions.MinHashSignatureExpression
      .minhashWords(words, n, numHashes)
    transform(sequence(lit(0), lit(numHashes / rowsPerBand - 1)),
      b => concat_ws("-", slice(sig, b * rowsPerBand + 1, lit(rowsPerBand))))
  }

  /** d6 — near-dup CLUSTER map: the operational endpoint of MinHash
    * dedup. Candidate pairs from [[minhashLsh]] form a similarity
    * graph; connected components ([[Components.minLabel]]) collapse
    * transitive near-dup chains, and every document maps to its
    * cluster's minimum doc_id (itself when unclustered). A training
    * pipeline keeps `!is_duplicate` rows — one representative per
    * cluster. Same bounded machinery end to end: bucket cutoffs bound
    * the pair graph, min-propagation rounds are O(cluster diameter).
    */
  def nearDupClusters(
      documents: DataFrame,
      numHashes: Int = bandHashes,
      rowsPerBand: Int = bandRows,
      maxBucket: Int = 1000,
      // the components engine: min-propagation (O(diameter) rounds,
      // right for near-clique LSH graphs) by default; pass
      // Components.minLabelStars for long-chain graphs (O(log n))
      components: DataFrame => DataFrame = Components.minLabel(_)): DataFrame = {
    val pairs = minhashLsh(documents, numHashes, rowsPerBand, maxBucket)
    val comp = components(
      pairs.select(col("left_id").as("src"), col("right_id").as("dst")))
    documents.select(col("doc_id"))
      .join(comp.select(col("id").as("doc_id"), col("label")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("label"), col("doc_id")).as("canonical_doc_id"))
      .withColumn("is_duplicate", col("doc_id") =!= col("canonical_doc_id"))
  }

  /** d4 — SimHash: 64-bit near-dup signature. Bit b of the signature is
    * the sign of Σ_token weight·(±1 by token-hash bit b). Computed as a
    * pure expression over the token array; near-dups share most bits.
    * Emitted as the signature value per doc (pair search is a hamming
    * ball over the signature — spec-tested; driver gate is rows-only).
    */
  def simhash(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"),
      graft.functions.SimHashExpression
        .simhash(array_distinct(words(col("text")))).as("simhash"))

  /** d4b — SimHash near-dup PAIRS within hamming distance
    * `maxHamming`: band the 60-bit signature into `maxHamming + 1`
    * equal bit slices — two signatures within the distance differ in
    * at most `maxHamming` bands, so they MUST agree exactly on at
    * least one slice (pigeonhole; lossless). Candidate generation is
    * therefore an equi-join on (band, slice value) — never all-pairs —
    * run through the same sketch-guarded bounded-block + chunk-balanced
    * expansion machinery as f8/d3/d5 (`maxBucket` caps a degenerate
    * slice, e.g. a boilerplate corpus collapsing to one signature);
    * verification is one popcount per candidate. This closes the d4
    * signature operator into an end-to-end near-dup search.
    */
  def simhashNearDup(
      documents: DataFrame,
      maxHamming: Int = 3,
      maxBucket: Int = 1000): DataFrame = {
    val bands = maxHamming + 1
    require(60 % bands == 0,
      s"maxHamming + 1 = $bands must divide the 60-bit signature")
    val bits = 60 / bands
    val mask = (1L << bits) - 1
    val sigs = simhash(documents)
    val banded = sigs.select(col("doc_id"), explode(array(
      (0 until bands).map(b => struct(lit(b).as("band"),
        shiftright(col("simhash"), b * bits).bitwiseAND(lit(mask))
          .as("key"))): _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.key").as("key"))
    val blocks = Fpx.boundedMemberSets(
      banded, Seq("band", "key"), "doc_id", 2, maxBucket)
    // a pair can share several bands → cross-block distinct required
    val pairs = Fpx.distinctPairs(
      Fpx.expandSortedSets(blocks.select(col("ids"))))
    val l = sigs.select(col("doc_id").as("left_id"), col("simhash").as("ls"))
    val r = sigs.select(col("doc_id").as("right_id"), col("simhash").as("rs"))
    pairs.join(l, Seq("left_id")).join(r, Seq("right_id"))
      .withColumn("hamming",
        bit_count(col("ls").bitwiseXOR(col("rs"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("left_id"), col("right_id"), col("hamming"))
  }

  /** Pure-`functions._` twin of [[simhash]] — value-identical; kept for
    * the parity spec. Single-pass fold: hash each distinct token once,
    * accumulate all 60 ±1 bit-votes in one traversal (an unrolled
    * per-bit aggregate would re-evaluate the token-hash tree once per
    * bit). Bit b is tested with a power-of-two mask — exact as double
    * up to 2^60.
    */
  def simhashExpr(documents: DataFrame): DataFrame = {
    val hs = transform(array_distinct(words(col("text"))),
      t => md5Hash60(lit(0), t))
    val masks = transform(sequence(lit(0), lit(59)),
      b => pow(lit(2.0), b).cast("long"))
    val votes = aggregate(
      hs,
      array_repeat(lit(0L), 60),
      (acc, h) => zip_with(acc, masks,
        (a, m) => a + when(h.bitwiseAND(m) =!= 0, lit(1L)).otherwise(lit(-1L))))
    val sig = aggregate(
      zip_with(votes, masks, (v, m) => when(v >= 0, m).otherwise(lit(0L))),
      lit(0L), (a, x) => a + x)
    documents.select(col("doc_id"), sig.as("simhash"))
  }

  /** Dot product of two numeric-array columns in double, sequential
    * left-to-right fold (deterministic across engines). Native
    * codegen'd expression — no per-row product-array allocation; the
    * inner loop of every similarity operator.
    */
  def dot(x: Column, y: Column): Column =
    graft.functions.DotProductExpression.vecDot(x, y)

  /** Pure-`functions._` twin of [[dot]] — value-identical (same element
    * order, same double adds); kept for the parity spec.
    */
  def dotExpr(x: Column, y: Column): Column =
    aggregate(zip_with(x, y, (p, q) => p.cast("double") * q.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  /** Cosine similarity of two float-array columns, computed in double
    * with a sequential fold (deterministic across engines). Pair-join
    * call sites should precompute sqrt(dot(v,v)) per ROW instead
    * (3× fewer flops, bitwise-identical result — see cosineWithNorms).
    */
  def cosine(a: Column, b: Column): Column =
    cosineWithNorms(a, b, sqrt(dot(a, a)), sqrt(dot(b, b)))

  /** Cosine given precomputed norms: same doubles as [[cosine]], but
    * the norms are evaluated once per vector instead of once per pair.
    * A zero-norm side has no cosine: the score is null (ANSI division
    * would raise DIVIDE_BY_ZERO), so it fails every threshold and a
    * `desc` ranking puts it after every scored candidate.
    */
  def cosineWithNorms(a: Column, b: Column, na: Column, nb: Column): Column = {
    val denom = na * nb
    when(denom =!= 0.0, dot(a, b) / denom)
  }

  /** d5 — embedding-cosine near-dup pairs ≥ τ within a blocking label
    * (label = cluster/shard key, e.g. a KMeans cluster / LSH bucket).
    *
    * Routed through the same bounded-block machinery as xref blocking
    * and MinHash-LSH (f8/d3): the per-label member sets are built with
    * the HLL-sketch guard (`Fpx.boundedMemberSets` — a hot label's
    * buffer never materializes past ~2·maxBlock) and the quadratic pair
    * expansion is chunk-balanced (`Fpx.expandSortedSets` — a
    * 10k-member block spreads its 50M pairs across the cluster instead
    * of streaming out of one task). Only then are embeddings joined
    * back onto the balanced pair stream — two equi-joins on vec_id, so
    * the shuffle carries (id, id) descriptors plus each vector once,
    * never |block|² vector copies.
    *
    * Labels larger than `maxBlock` are dropped (the blocking cutoff —
    * identical semantics to xrefBlocks' maxEntities). At 100 TB one
    * hot label is otherwise an unbounded O(n²) expansion.
    */
  def embeddingNearDup(
      embeddings: DataFrame,
      minCos: Double,
      maxBlock: Int = 10000): DataFrame = {
    val normed = embeddings.select(col("vec_id"), col("embedding"),
      sqrt(dot(col("embedding"), col("embedding"))).as("nrm"))
    // vec_id is unique per row, so a pair arises in exactly one label
    // block and the expansion needs no cross-block distinct (unlike d3,
    // where a doc pair can share several band buckets).
    val blocks = Fpx.boundedMemberSets(
      embeddings.select(col("label"), col("vec_id")),
      Seq("label"), "vec_id", 2, maxBlock)
    val pairs = Fpx.expandSortedSets(blocks.select(col("ids")))
    val l = normed.select(col("vec_id").as("left_id"),
      col("embedding").as("lv"), col("nrm").as("ln"))
    val r = normed.select(col("vec_id").as("right_id"),
      col("embedding").as("rv"), col("nrm").as("rn"))
    pairs.join(l, Seq("left_id")).join(r, Seq("right_id"))
      .withColumn("cos",
        round(cosineWithNorms(col("lv"), col("rv"), col("ln"), col("rn")), 4))
      .filter(col("cos") >= minCos)
      .select(col("left_id"), col("right_id"), col("cos"))
  }

  /** d8 — canonical-document selection, the step a training pipeline
    * runs right after near-dup clustering: keep ONE representative per
    * cluster (the longest document; ties broken by smallest doc_id so
    * the choice is deterministic) and flag the rest for dropping.
    * `clusters` is [[nearDupClusters]] output (doc_id,
    * canonical_doc_id, is_duplicate).
    *
    * Scale: documents are reduced to (doc_id, n_chars) BEFORE the
    * join — text never shuffles — and the representative choice is one
    * row_number window on the cluster label. Cluster sizes are bounded
    * upstream by the LSH block guard (maxBucket), so the window
    * partition can't become a hot key; singleton docs (the vast
    * majority) pass through the same single shuffle.
    */
  def keepBest(documents: DataFrame, clusters: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sized = documents.select(col("doc_id"),
      length(col("text")).cast("long").as("n_chars"))
    val w = Window.partitionBy(col("canonical_doc_id"))
      .orderBy(col("n_chars").desc, col("doc_id").asc)
    clusters.select(col("doc_id"), col("canonical_doc_id"))
      .join(sized, Seq("doc_id"))
      .withColumn("keep", row_number().over(w) === 1)
      .select(col("doc_id"), col("canonical_doc_id"), col("n_chars"),
        col("keep"))
  }

  /** d12 — SemDeDup-style semantic deduplication (cluster-then-prune,
    * the published scale recipe for embedding dedup of web-scale
    * corpora): every vector assigns to its nearest TRAINED centroid
    * (the identical flat list picker as IVF search —
    * [[Similarity.withNearestList]], a scan projection through the
    * centroid matrix collected once), and within each
    * cluster a vector is dropped when some smaller-id cluster-mate
    * sits at cosine ≥ `minCos`. One row per vector: the learned
    * cluster, the keep/drop verdict, and for dropped vectors the
    * smallest qualifying mate plus the best cosine among them.
    *
    * Cosines are rounded to 4dp BEFORE thresholding (the d5
    * convention) so a near-threshold pair cannot flip between engines
    * on float-summation drift — the DuckDB twin takes the identical
    * decision on every pair. The cluster-assignment argmax rounds its
    * choice score the same way: a vector
    * near-equidistant between two centroids ties at 4dp and falls to
    * the list_id tie-break identically in both engines, so assignment
    * (and with it every keep/drop verdict) cannot flip either.
    *
    * A zero-norm vector assigns to the lowest list id; its pair
    * cosines are null ([[cosineWithNorms]]), so it is never dropped
    * and never drops a mate. An empty centroid table assigns nothing
    * and answers empty.
    *
    * Scale shape: the centroids ride in the assignment expression (k
    * is chosen, not data-sized), so assignment is a scan projection
    * with no exchange; the corpus shuffles once on the learned int
    * cluster id; the
    * quadratic pair expansion reuses the d5/f8 machinery —
    * HLL-guarded bounded member sets + chunk-balanced expansion
    * ([[Fpx.boundedMemberSets]] / [[Fpx.expandSortedSets]]), so a hot
    * cluster neither OOMs an aggregation buffer nor serializes its
    * pairs through one task. Clusters larger than `maxList` are
    * excluded entirely (members absent from the output — the d5
    * blocking-cutoff semantics; at 100 TB pick k so clusters stay
    * bounded, the knob SemDeDup itself turns). Embeddings join onto
    * the balanced (id, id) pair stream by key — the shuffle never
    * carries |cluster|² vector copies.
    */
  def semDedup(
      embeddings: DataFrame,
      cents: DataFrame,
      minCos: Double,
      maxList: Int = 10000): DataFrame = {
    // materialize the assignment table ONCE: five consumers hang off it
    // (size guard, membership, set build, both pair sides) and each
    // would otherwise re-read and re-assign the corpus — the d6
    // lesson; a production pipeline persists its cluster-assignment
    // table for exactly this reason
    val assigned = Similarity.withNearestList(
      embeddings.select(col("vec_id"), col("embedding")),
      cents, Similarity.flatMatrix(cents))
      .localCheckpoint()
    // the cutoff membership filter: structurally ≤ |cents| rows, so it
    // broadcasts; singleton clusters pass (their vector is kept below)
    val inRange = assigned.groupBy(col("list_id"))
      .agg(count(lit(1)).as("__sz"))
      .filter(col("__sz") <= maxList)
      .select(col("list_id"))
    // member is itself read four ways (set build, both pair sides, the
    // verdict frame) — checkpointing the cheap filtered view keeps each
    // reader a local scan instead of a re-join
    val member = assigned.join(broadcast(inRange), Seq("list_id"))
      .localCheckpoint()
    val blocks = boundedMemberSetsForClusters(member, maxList)
    val pairs = Fpx.expandSortedSets(blocks)
    val l = member.select(col("vec_id").as("left_id"),
      col("embedding").as("lv"), col("__n").as("ln"))
    val r = member.select(col("vec_id").as("right_id"),
      col("embedding").as("rv"), col("__n").as("rn"))
    val dropped = pairs.join(l, Seq("left_id")).join(r, Seq("right_id"))
      .withColumn("cos",
        round(cosineWithNorms(col("lv"), col("rv"), col("ln"), col("rn")), 4))
      .filter(col("cos") >= minCos)
      .select(col("right_id").as("vec_id"), col("left_id"), col("cos"))
      .groupBy(col("vec_id"))
      .agg(min(col("left_id")).as("dup_of"), max(col("cos")).as("best_cos"))
    member.select(col("vec_id"), col("list_id"))
      .join(dropped, Seq("vec_id"), "left")
      .select(col("vec_id"), col("list_id"),
        col("dup_of").isNull.as("is_kept"), col("dup_of"), col("best_cos"))
  }

  /** d12's member-set build: vec_id is unique per row so each pair
    * arises in exactly one cluster (no cross-block distinct needed,
    * same argument as d5).
    */
  private def boundedMemberSetsForClusters(
      member: DataFrame, maxList: Int): DataFrame =
    Fpx.boundedMemberSets(
      member.select(col("list_id"), col("vec_id")),
      Seq("list_id"), "vec_id", 2, maxList)
      .select(col("ids"))

  /** d13 — the INCREMENTAL face of [[semDedup]], the question a vector
    * store answers per ingest batch: which vectors of `batch` are
    * semantic near-dups of the STORED corpus, under a FIXED coarse
    * quantizer `cents` (trained once at store init — a production
    * pipeline does not retrain the quantizer per batch, it retrains on
    * drift; see [[graft.sources.VecStore]] for the stored form whose
    * inverted lists make this probe near-flat in corpus size).
    *
    * Semantics are d12's restricted to cross pairs: both sides assign
    * to their nearest centroid through one flat list-picker matrix
    * (the centroid table collected once; the same 4dp-rounded argmax
    * with list_id tie-break, [[Similarity.withNearestList]]), and a batch
    * vector is a dup when some STORED vector in its list sits at
    * cosine ≥ `minCos` (4dp-rounded, the d5 convention). Batch×batch
    * pairs are deliberately out of scope — they are the NEXT append's
    * stored×batch pairs, and st11's first-arrival rule handles
    * in-batch collisions. One row per batch vector: (new_vec_id,
    * list_id, is_dup, dup_of = smallest qualifying stored id,
    * best_cos) — a vector whose list holds no stored member keeps its
    * is_dup = false row. Only lists with more than `maxList` STORED
    * members are excluded wholesale (the d5/d12 cutoff semantics,
    * counted over probed lists only).
    */
  def semDedupIncremental(
      stored: DataFrame,
      batch: DataFrame,
      cents: DataFrame,
      minCos: Double,
      maxList: Int = 10000): DataFrame = {
    val tm = Similarity.flatMatrix(cents)
    // the full-corpus assignment feeds two consumers (list sizes +
    // member join) — materialize once, the d12 lesson. The store path
    // reads this from its partition layout instead and skips the job.
    val storedA = Similarity.withNearestList(
      stored.select(col("vec_id"), col("embedding")), cents, tm)
      .localCheckpoint()
    val batchA = Similarity.withNearestList(
      batch.select(col("vec_id").as("new_vec_id"), col("embedding")),
      cents, tm)
      .localCheckpoint()
    crossVerdicts(storedA, batchA, minCos, maxList)
  }

  /** The stored×batch verdict core shared by [[semDedupIncremental]]
    * and [[graft.sources.VecStore.nearDupVerdicts]]: both sides arrive
    * pre-assigned as (id, list_id, embedding, __n) — from a live
    * argmax here, from the partition layout there — so the two faces
    * flag identical dups by construction.
    *
    * Scale shape: the batch side is ingest-sized and BROADCAST (probed
    * list set, then the assigned batch rows themselves); the stored
    * side is filtered to probed lists by that broadcast — with the
    * VecStore's list_id-partitioned layout this prunes the scan to the
    * probed partitions — and then never shuffles: pair scoring happens
    * in the scan tasks against the broadcast batch, and only narrow
    * (new_vec_id, stored id, cos) survivors reach the one verdict
    * aggregation.
    */
  private[graft] def crossVerdicts(
      storedA: DataFrame,
      batchA: DataFrame,
      minCos: Double,
      maxList: Int,
      fromStore: Boolean = false): DataFrame = {
    // The two callers hand over different storedA contracts:
    //  - the DataFrame twin (fromStore = false): a live assignment,
    //    UNIQUE by vec_id but unfiltered — restrict it to probed lists
    //    here (broadcast batch-distinct join);
    //  - the VecStore (fromStore = true): the raw partitioned table,
    //    already statically pruned to the probed lists (a filter here
    //    would only re-shuffle the batch) but possibly carrying
    //    re-delivered duplicates — FINAL-dedup by id here, AFTER the
    //    pruning (a dedup below the partition filter would block the
    //    pruning and read every list; duplicates of a vec_id are
    //    byte-identical, same embedding ⇒ same list, and in-bucket the
    //    dedup costs no Exchange).
    val hits =
      if (fromStore) storedA.dropDuplicates("vec_id")
      else storedA.join(
        broadcast(batchA.select(col("list_id")).distinct()),
        Seq("list_id"))
    // oversize cutoff over STORED members of probed lists only; the
    // count aggregates map-side (narrow int rows), ≤ |batch| lists
    // out. Exclusion is for OVERSIZE lists alone — a batch vector in
    // a list with no stored members keeps its (is_dup = false) row,
    // unlike the in-range form which would silently drop it.
    // Materialized ONCE (tiny): three anti-join consumers would each
    // replay the counting subtree — and its exchange — otherwise.
    val over = broadcast(hits.groupBy(col("list_id"))
      .agg(count(lit(1)).as("__sz"))
      .filter(col("__sz") > maxList)
      .select(col("list_id"))
      .localCheckpoint())
    val members = hits.join(over, Seq("list_id"), "left_anti")
      .select(col("list_id"), col("vec_id"),
        col("embedding").as("sv"), col("__n").as("sn"))
    val frame = batchA.join(over, Seq("list_id"), "left_anti")
    val probeSide = broadcast(frame
      .select(col("list_id"), col("new_vec_id"),
        col("embedding").as("nv"), col("__n").as("nn")))
    val dup = members.join(probeSide, Seq("list_id"))
      .filter(col("vec_id") =!= col("new_vec_id"))
      .withColumn("cos", round(
        cosineWithNorms(col("sv"), col("nv"), col("sn"), col("nn")), 4))
      .filter(col("cos") >= minCos)
      .groupBy(col("new_vec_id"))
      .agg(min(col("vec_id")).as("dup_of"), max(col("cos")).as("best_cos"))
    // dup is batch-bounded (≤ one row per batch vector) — broadcast it
    // so the verdict frame never shuffles; the whole probe then costs
    // exactly ONE exchange (dup's aggregation)
    frame
      .select(col("new_vec_id"), col("list_id"))
      .join(broadcast(dup), Seq("new_vec_id"), "left")
      .select(col("new_vec_id"), col("list_id"),
        col("dup_of").isNotNull.as("is_dup"), col("dup_of"),
        col("best_cos"))
  }

  /** d14 — EXACT duplicated-substring runs (the suffix-grain dedup of
    * Lee et al., "Deduplicating Training Data Makes Language Models
    * Better", ACL 2022, re-expressed relationally): every maximal
    * token run of length ≥ `minRun` shared verbatim between two
    * documents, with its exact start positions — the artifact an
    * exact-substring scrub consumes, where d11/t11 only see
    * fixed-width passage shingles without geometry.
    *
    * Lee et al. build a corpus suffix array — a pointer-chasing
    * structure a shared-nothing engine can't traverse. The relational
    * equivalent used here:
    *
    *   1. anchor every k-token window at its position: (doc, pos, h)
    *      with h the 60-bit gram hash, ONE compiled pass per doc
    *      ([[graft.functions.NgramHashesAllExpression]] — the gram
    *      TEXT never leaves the scan, only 8-byte hashes shuffle);
    *   2. keep anchors whose gram appears in 2..maxDf distinct docs —
    *      df ≥ 2 because a run needs two documents, df ≤ maxDf
    *      because boilerplate shared by half the corpus would square
    *      the pair fanout (Lee et al. cap the same way; the cap is
    *      the documented lossy edge: a capped anchor inside a run
    *      splits it — the oracle applies the identical cap);
    *   3. equi-join anchors on h (never all-pairs — the df cap bounds
    *      every hash's fanout), doc_a < doc_b;
    *   4. a shared run is a maximal set of consecutive anchors on one
    *      DIAGONAL (pa − pb constant): gaps-and-islands per
    *      (doc_a, doc_b, diag) — island id = pa − row_number() — then
    *      one aggregate per island: run_len = max(pa) − min(pa) + k.
    *      The island aggregation reuses the window's clustering
    *      (group keys ⊇ partition keys), so steps 4–5 cost ONE
    *      exchange total.
    *
    * 100 TB shape: anchor grain = corpus tokens (scan-linear), every
    * shuffle is hash- or pair-bounded, and the df cap makes the join
    * fanout per gram ≤ maxDf² occurrences — no stage is quadratic in
    * the corpus. Within-doc gram repeats are not separately capped
    * (a pathological doc repeating one gram 10⁶ times belongs to
    * t7's repetition filter upstream).
    */
  def dupSpans(
      documents: DataFrame,
      k: Int = 8,
      minRun: Int = 12,
      maxDf: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 2, s"dupSpans: anchor width k must be >= 2, got $k")
    require(minRun >= k,
      s"dupSpans: minRun ($minRun) must be >= k ($k) — shorter runs " +
        "are invisible to k-token anchors")
    val anch = documents
      .select(col("doc_id"), posexplode(
        graft.functions.NgramHashesExpression
          .ngramHashesAll(words(col("text")), k, 0)))
      .select(col("doc_id"), col("pos"), col("col").as("h"))
    val sel = anch
      .groupBy(col("h"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2 && col("nd") <= maxDf)
      .select(col("h"))
    val capped = anch.join(sel, Seq("h"))
    val m = capped
      .select(col("h"), col("doc_id").as("doc_a"), col("pos").as("pa"))
      .join(capped.select(col("h"), col("doc_id").as("doc_b"),
        col("pos").as("pb")), Seq("h"))
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("diag", col("pa") - col("pb"))
    val w = Window.partitionBy(col("doc_a"), col("doc_b"), col("diag"))
      .orderBy(col("pa"))
    m.withColumn("isl", col("pa") - row_number().over(w))
      .groupBy(col("doc_a"), col("doc_b"), col("diag"), col("isl"))
      .agg(min(col("pa")).cast("long").as("start_a"),
        min(col("pb")).cast("long").as("start_b"),
        (max(col("pa")) - min(col("pa")) + k).cast("long").as("run_len"))
      .filter(col("run_len") >= minRun)
      .select(col("doc_a"), col("doc_b"), col("start_a"), col("start_b"),
        col("run_len"))
  }

  /** d14b — the exact-substring SCRUB, [[dupSpans]]'s application step
    * (what Lee et al. 2022 actually do with the runs: delete all but
    * one copy). Keep-first rule: a span deletes from the HIGHER-id
    * side of each pair (the earlier doc keeps its copy; a doc that is
    * the later side of several pairs loses the union of those spans).
    *
    * Shape: the span table reduces to per-doc interval UNIONS —
    * classic gaps-and-islands over (s, e)-sorted intervals (running
    * max of prior ends; a start past it opens an island) — then ONE
    * doc-grain join attaches each doc's merged intervals (span-
    * bounded arrays) and the deletion runs scan-locally per row:
    * tokens outside every interval survive, the cleaned text hashes.
    * Token grain never shuffles — only interval rows and doc ids do.
    * Docs with no spans pass through with 0 removed (LEFT join).
    *
    * Output matches d11's scrub face: (doc_id, n_tokens_removed,
    * clean_hash) for EVERY document — d11 scrubs corpus-frequent
    * fixed-width passages wherever they appear; this removes the
    * exact maximal runs while provably keeping one copy.
    */
  def spanScrub(
      documents: DataFrame,
      k: Int = 8,
      minRun: Int = 12,
      maxDf: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spans = dupSpans(documents, k, minRun, maxDf)
      .select(col("doc_b").as("doc_id"), col("start_b").as("s"),
        (col("start_b") + col("run_len")).as("e"))
    val wOrd = Window.partitionBy(col("doc_id")).orderBy(col("s"), col("e"))
    val pmax = max(col("e"))
      .over(wOrd.rowsBetween(Window.unboundedPreceding, -1))
    val merged = spans
      .withColumn("fresh",
        when(pmax.isNull || col("s") > pmax, 1).otherwise(0))
      .withColumn("g", sum(col("fresh")).over(wOrd))
      .groupBy(col("doc_id"), col("g"))
      .agg(min(col("s")).as("s"), max(col("e")).as("e"))
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(col("s"), col("e"))).as("ivs"))
    val kept = filter(
      transform(col("ws"), (wd, i) => struct(wd.as("w"), i.as("i"))),
      p => !exists(col("ivs"),
        v => p.getField("i") >= v.getField("s") &&
          p.getField("i") < v.getField("e")))
    documents
      .join(merged, Seq("doc_id"), "left")
      .select(col("doc_id"), words(col("text")).as("ws"),
        coalesce(col("ivs"),
          array().cast("array<struct<s:bigint,e:bigint>>")).as("ivs"))
      .select(col("doc_id"),
        (size(col("ws")) - size(kept)).cast("long").as("n_tokens_removed"),
        md5(concat_ws(" ", transform(kept, p => p.getField("w"))))
          .as("clean_hash"))
  }
}
