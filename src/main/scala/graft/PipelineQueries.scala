package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Codecs, Dedup, Multimodal, Sampling, Similarity, TextAnalysis}

/** LLM-training-data pipeline operators (SURVEY.md §2 d/s/t/m blocks):
  * deduplication, similarity search, text analysis, multimodal columns.
  * Same oracle discipline as [[Queries]] — every SQL-expressible
  * operator has a DuckDB twin with identical column aliases; hash-based
  * operators use md5-derived hashes so both engines compute identical
  * values (see Dedup.md5Hash60).
  */
object PipelineQueries {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
  private def emb(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "embeddings")

  // -- DuckDB SQL fragments shared across oracles ---------------------

  /** DuckDB: non-empty lowercase word list of `c`. */
  private def duckWords(c: String): String =
    s"list_filter(string_split_regex(lower($c), '\\s+'), w -> w <> '')"

  /** DuckDB: distinct word 3-shingle list of word-list column `ws`. */
  private val duckShingles: String = duckShinglesN(3)

  /** DuckDB: the all-languages stopword list literal (t2/p1 share it). */
  private val duckAllStops: String =
    TextAnalysis.stopwords.flatMap(_._2).distinct
      .map(w => s"'$w'").mkString("[", ",", "]")

  /** DuckDB: Sampling.hashU's deterministic keep test as a uniform
    * [0,1) draw — `duckKeep(seed, id) < rate` (d7/p1 share it).
    */
  private def duckKeep(seed: String, id: String): String =
    s"CAST(concat('0x', substr(md5(concat($seed, ':', CAST($id AS VARCHAR))), 1, 8)) AS BIGINT) / 4294967296.0"

  /** DuckDB twin of Dedup.shinglesN over a word array column `ws`. */
  private def duckShinglesN(n: Int): String =
    s"CASE WHEN len(ws) >= $n THEN " +
      s"list_distinct([array_to_string(ws[i:i+${n - 1}], ' ') " +
      s"for i in range(1, len(ws)-${n - 2})]) ELSE [] END"

  /** DuckDB twin of Dedup.md5Hash60. */
  private def duckHash60(seed: String, x: String): String =
    s"CAST(concat('0x', substr(md5(concat($seed, ':', $x)), 1, 15)) AS BIGINT)"

  /** DuckDB twin of Dedup.cosine over DOUBLE[] columns `a`, `b`. */
  private def duckCos(a: String, b: String): String =
    s"list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b)))"

  // ===========================================================
  // d-block: deduplication
  // ===========================================================

  def d1DedupExact(s: SparkSession, dir: String): DataFrame =
    Dedup.exact(docs(s, dir))

  val d1Sql: String =
    """WITH h AS (SELECT doc_id,
      |    md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS content_hash
      |  FROM documents),
      |c AS (SELECT content_hash, min(doc_id) AS canonical_doc_id,
      |    COUNT(*) AS n_dups FROM h GROUP BY content_hash)
      |SELECT doc_id, canonical_doc_id, content_hash, n_dups
      |FROM h JOIN c USING (content_hash)""".stripMargin

  def d2DedupNgramJaccard(s: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccard(docs(s, dir), minJaccard = 0.9)

  val d2Sql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, source, list_distinct(${duckWords("text")}) AS ws
       |  FROM documents),
       |sized AS (SELECT doc_id, source, CAST(len(ws) AS BIGINT) AS n, ws FROM toks),
       |ex AS (SELECT doc_id, source, n, unnest(ws) AS w FROM sized),
       |pairs AS (
       |  SELECT l.doc_id AS left_id, r.doc_id AS right_id,
       |    l.n AS ln, r.n AS rn, COUNT(*) AS inter
       |  FROM ex l JOIN ex r
       |    ON l.source = r.source AND l.w = r.w AND l.doc_id < r.doc_id
       |  GROUP BY 1, 2, 3, 4)
       |SELECT left_id, right_id,
       |  round(CAST(inter AS DOUBLE) / CAST(ln + rn - inter AS DOUBLE), 6) AS jaccard
       |FROM pairs
       |WHERE CAST(inter AS DOUBLE) / CAST(ln + rn - inter AS DOUBLE) >= 0.9""".stripMargin

  /** d9 — containment (subset/quote) pairs at τ = 0.8; see
    * [[Dedup.containmentPairs]] for the asymmetric prefix filter.
    */
  def d9DedupContainment(s: SparkSession, dir: String): DataFrame =
    Dedup.containmentPairs(docs(s, dir), minContainment = 0.8)

  val d9Sql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, source, list_distinct(${duckWords("text")}) AS ws
       |  FROM documents),
       |sized AS (SELECT doc_id, source, CAST(len(ws) AS BIGINT) AS n, ws FROM toks),
       |ex AS (SELECT doc_id, source, n, unnest(ws) AS w FROM sized),
       |pairs AS (
       |  SELECT l.doc_id AS left_id, r.doc_id AS right_id,
       |    l.n AS ln, r.n AS rn, COUNT(*) AS inter
       |  FROM ex l JOIN ex r
       |    ON l.source = r.source AND l.w = r.w AND l.doc_id < r.doc_id
       |  GROUP BY 1, 2, 3, 4)
       |SELECT left_id, right_id,
       |  round(CAST(inter AS DOUBLE) / CAST(least(ln, rn) AS DOUBLE), 6)
       |    AS containment
       |FROM pairs
       |WHERE CAST(inter AS DOUBLE) / CAST(least(ln, rn) AS DOUBLE) >= 0.8"""
      .stripMargin

  def d3DedupMinhashLsh(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashLsh(docs(s, dir))

  /** The MinHash-LSH candidate-pair derivation as CTEs (shared by the
    * d3 and d6 oracles).
    */
  private val d3PairsCte: String =
    s"""toks AS (
       |  SELECT doc_id, ${duckWords("text")} AS ws FROM documents),
       |ok AS (SELECT * FROM toks WHERE len(ws) >= 3),
       |sh AS (SELECT doc_id, $duckShingles AS shingles FROM ok),
       |mh AS (
       |  SELECT doc_id, s.seed AS seed,
       |    min(${duckHash60("s.seed", "sg.s")}) AS h
       |  FROM sh, UNNEST(shingles) AS sg(s),
       |    (SELECT unnest(range(0, 12)) AS seed) s
       |  GROUP BY doc_id, s.seed),
       |bands AS (
       |  SELECT doc_id, seed // 2 AS band,
       |    string_agg(CAST(h AS VARCHAR), '-' ORDER BY seed) AS key
       |  FROM mh GROUP BY doc_id, seed // 2),
       |lshpairs AS (
       |  SELECT DISTINCT l.doc_id AS left_id, r.doc_id AS right_id
       |  FROM bands l JOIN bands r
       |    ON l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id)"""
      .stripMargin

  val d3Sql: String =
    s"WITH $d3PairsCte SELECT left_id, right_id FROM lshpairs"

  def d6DedupClusters(s: SparkSession, dir: String): DataFrame =
    Dedup.nearDupClusters(docs(s, dir))

  /** Recursive transitive closure over the symmetric LSH pair graph;
    * cluster canonical = min reachable doc_id. Shared by the d6/d6b and
    * d8 oracles.
    */
  private val d6ClusterCte: String =
    s"""cedges AS (
       |  SELECT left_id AS src, right_id AS dst FROM lshpairs
       |  UNION SELECT right_id, left_id FROM lshpairs),
       |reach(id, r) AS (
       |  SELECT src, dst FROM cedges
       |  UNION
       |  SELECT e.src, r.r FROM cedges e JOIN reach r ON e.dst = r.id),
       |mapping AS (
       |  SELECT id, least(id, min(r)) AS label FROM reach GROUP BY id)"""
      .stripMargin

  val d6Sql: String =
    s"""WITH RECURSIVE $d3PairsCte,
       |$d6ClusterCte
       |SELECT d.doc_id,
       |  COALESCE(m.label, d.doc_id) AS canonical_doc_id,
       |  d.doc_id <> COALESCE(m.label, d.doc_id) AS is_duplicate
       |FROM documents d LEFT JOIN mapping m ON d.doc_id = m.id""".stripMargin

  /** d6b — d6 on the OTHER components engine
    * ([[graft.operators.Components.minLabelStars]], large-star/
    * small-star): answers must be identical, so it shares d6's oracle —
    * the O(log n)-rounds algorithm gets full DuckDB hash gating, not
    * just the spec-level agreement check.
    */
  def d6bDedupClustersStars(s: SparkSession, dir: String): DataFrame =
    Dedup.nearDupClusters(docs(s, dir),
      components = df => graft.operators.Components.minLabelStars(df))

  /** d8 — canonical-document selection over the d6 clusters: keep the
    * longest doc per near-dup cluster (ties → smallest doc_id), flag
    * the rest. The post-dedup retention decision every training
    * pipeline makes; see [[Dedup.keepBest]] for the scale argument.
    */
  def d8DedupKeepBest(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    Dedup.keepBest(d,
      Dedup.nearDupClusters(d))
  }

  val d8Sql: String =
    s"""WITH RECURSIVE $d3PairsCte,
       |$d6ClusterCte,
       |lab AS (
       |  SELECT d.doc_id,
       |    COALESCE(m.label, d.doc_id) AS canonical_doc_id,
       |    CAST(length(d.text) AS BIGINT) AS n_chars
       |  FROM documents d LEFT JOIN mapping m ON d.doc_id = m.id)
       |SELECT doc_id, canonical_doc_id, n_chars,
       |  ROW_NUMBER() OVER (PARTITION BY canonical_doc_id
       |    ORDER BY n_chars DESC, doc_id) = 1 AS keep
       |FROM lab""".stripMargin

  def d4DedupSimhash(s: SparkSession, dir: String): DataFrame =
    Dedup.simhash(docs(s, dir))

  /** d4's DuckDB twin — the SimHash vote is pure integer arithmetic
    * over md5-derived 60-bit token hashes, so DuckDB reproduces the
    * signature exactly: explode distinct tokens × bits, sum ±1 votes,
    * pack sign bits. A doc with no tokens has all-zero votes → every
    * sign test passes → all 60 bits set (the LEFT JOIN default).
    */
  /** The SimHash signature derivation as CTEs ending in
    * `sigsall(doc_id, simhash)` (shared by the d4 and d4b oracles).
    */
  private val d4SigsCte: String =
    s"""toks AS (
       |  SELECT doc_id, list_distinct(${duckWords("text")}) AS ws
       |  FROM documents),
       |ex AS (SELECT doc_id, unnest(ws) AS w FROM toks),
       |hs AS (SELECT doc_id, ${duckHash60("'0'", "w")} AS h FROM ex),
       |votes AS (
       |  SELECT doc_id, b.bit AS bit,
       |    SUM(CASE WHEN ((h >> b.bit) & 1) = 1 THEN 1 ELSE -1 END) AS v
       |  FROM hs, (SELECT unnest(range(0, 60)) AS bit) b
       |  GROUP BY 1, 2),
       |sigs AS (
       |  SELECT doc_id,
       |    CAST(SUM(CASE WHEN v >= 0 THEN (CAST(1 AS BIGINT) << bit)
       |      ELSE 0 END) AS BIGINT) AS simhash
       |  FROM votes GROUP BY doc_id),
       |sigsall AS (
       |  SELECT d.doc_id,
       |    COALESCE(s.simhash, 1152921504606846975) AS simhash
       |  FROM documents d LEFT JOIN sigs s USING (doc_id))""".stripMargin

  val d4Sql: String =
    s"WITH $d4SigsCte SELECT doc_id, simhash FROM sigsall"

  def d4bSimhashHamming(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashNearDup(docs(s, dir), maxHamming = 3)

  /** DuckDB twin of the banded hamming search: same 4×15-bit slices,
    * same 2..1000 bucket size filter, exact popcount verify.
    */
  val d4bSql: String =
    s"""WITH $d4SigsCte,
       |banded AS (
       |  SELECT doc_id, simhash, b.band AS band,
       |    (simhash >> (b.band * 15)) & 32767 AS key
       |  FROM sigsall, (SELECT unnest(range(0, 4)) AS band) b),
       |sizes AS (
       |  SELECT band, key FROM banded GROUP BY 1, 2
       |  HAVING COUNT(DISTINCT doc_id) BETWEEN 2 AND 1000)
       |SELECT DISTINCT l.doc_id AS left_id, r.doc_id AS right_id,
       |  CAST(bit_count(xor(l.simhash, r.simhash)) AS BIGINT) AS hamming
       |FROM banded l JOIN sizes USING (band, key) JOIN banded r USING (band, key)
       |WHERE l.doc_id < r.doc_id
       |  AND bit_count(xor(l.simhash, r.simhash)) <= 3""".stripMargin

  def d5DedupEmbedding(s: SparkSession, dir: String): DataFrame =
    Dedup.embeddingNearDup(emb(s, dir), minCos = 0.30)

  val d5Sql: String =
    s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
       |SELECT l.vec_id AS left_id, r.vec_id AS right_id,
       |  round(${duckCos("l.v", "r.v")}, 4) AS cos
       |FROM e l JOIN e r ON l.label = r.label AND l.vec_id < r.vec_id
       |WHERE round(${duckCos("l.v", "r.v")}, 4) >= 0.30""".stripMargin

  /** d12 — SemDeDup-style semantic dedup: nearest-centroid cluster
    * assignment (the s3 coarse quantizer, label-trained) then
    * within-cluster prune at cosine ≥ 0.35; see [[Dedup.semDedup]] for
    * the bounded-block scale shape. The oracle recomputes the
    * identical centroids, assignment argmax and 4dp-rounded pair
    * decisions, so the keep/drop verdict is hash-gated end-to-end.
    */
  def d12SemDedup(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    Dedup.semDedup(e, Similarity.centroids(e, col("label")), minCos = 0.35)
  }

  val d12Sql: String =
    s"""WITH e AS (
       |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |cents AS (
       |  SELECT label, p.pos AS pos, AVG(v[p.pos]) AS m
       |  FROM e, (SELECT unnest(range(1, 65)) AS pos) p
       |  GROUP BY 1, 2),
       |clist AS (
       |  SELECT label AS list_id, list(m ORDER BY pos) AS c
       |  FROM cents GROUP BY label),
       |assigned AS (
       |  SELECT vec_id, v, list_id FROM (
       |    SELECT e.vec_id, e.v, cl.list_id,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |        ORDER BY round(${duckCos("e.v", "cl.c")}, 4) DESC, cl.list_id) AS r
       |    FROM e, clist cl) WHERE r = 1),
       |sz AS (
       |  SELECT list_id FROM assigned GROUP BY 1 HAVING COUNT(*) <= 10000),
       |m AS (SELECT a.* FROM assigned a JOIN sz USING (list_id)),
       |pr AS (
       |  SELECT r.vec_id AS vec_id, l.vec_id AS left_id,
       |    round(${duckCos("l.v", "r.v")}, 4) AS cos
       |  FROM m l JOIN m r
       |    ON l.list_id = r.list_id AND l.vec_id < r.vec_id),
       |drp AS (
       |  SELECT vec_id, min(left_id) AS dup_of, max(cos) AS best_cos
       |  FROM pr WHERE cos >= 0.35 GROUP BY 1)
       |SELECT m.vec_id, m.list_id, drp.dup_of IS NULL AS is_kept,
       |  drp.dup_of, drp.best_cos
       |FROM m LEFT JOIN drp USING (vec_id)""".stripMargin

  // ===========================================================
  // s-block: similarity search
  // ===========================================================

  def s1AnnBruteTopk(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    Similarity.bruteTopK(e, e.filter(col("vec_id") < 10), k = 5)
  }

  val s1Sql: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
       |scored AS (
       |  SELECT q.query_id, e.vec_id AS neighbor_id, ${duckCos("qv", "v")} AS cos
       |  FROM e, q WHERE e.vec_id <> q.query_id),
       |rk AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank FROM scored)
       |SELECT query_id, neighbor_id, round(cos, 6) AS cos, rank
       |FROM rk WHERE rank <= 5""".stripMargin

  /** s8 — MMR-diversified ANN top-k ([[Similarity.mmrTopK]], λ=0.7,
    * shortlist 40, k=8): every greedy decision is integer-exact
    * (rel4/sim4 = round(round(cos,4)·10⁴) as BIGINT, score =
    * 7·rel4 − 3·maxSim4, ties → smaller id), so the DuckDB oracle —
    * the SAME greedy UNROLLED as 8 CTE steps (step n: max-sim against
    * chosen(n−1), window argmax, union into chosen(n)) — hash-gates
    * every selection, not just the final set.
    */
  def s8AnnMmr(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    Similarity.mmrTopK(e, e.filter(col("vec_id") < 10),
      shortlist = 40, k = 8)
  }

  val s8Sql: String = {
    def sc4(a: String, b: String) =
      s"CAST(round(round(${duckCos(a, b)}, 4) * 10000) AS BIGINT)"
    val steps = (2 to 8).map { n =>
      s"""ms$n AS (
         |  SELECT c.query_id, c.nid, MAX(${sc4("c.cv", "h.cv")}) AS msim4
         |  FROM cand c JOIN chosen${n - 1} h USING (query_id)
         |  WHERE NOT EXISTS (SELECT 1 FROM chosen${n - 1} x
         |    WHERE x.query_id = c.query_id AND x.nid = c.nid)
         |  GROUP BY c.query_id, c.nid),
         |pick$n AS (
         |  SELECT query_id, nid, score FROM (
         |    SELECT m.query_id, m.nid, 7 * c.rel4 - 3 * m.msim4 AS score,
         |      ROW_NUMBER() OVER (PARTITION BY m.query_id
         |        ORDER BY 7 * c.rel4 - 3 * m.msim4 DESC, m.nid) AS rn
         |    FROM ms$n m JOIN cand c
         |      ON c.query_id = m.query_id AND c.nid = m.nid)
         |  WHERE rn = 1),
         |chosen$n AS MATERIALIZED (
         |  SELECT * FROM chosen${n - 1}
         |  UNION ALL
         |  SELECT p.query_id, p.nid, c.cv, p.score, $n AS rank
         |  FROM pick$n p JOIN cand c
         |    ON c.query_id = p.query_id AND c.nid = p.nid)""".stripMargin
    }.mkString(",\n", ",\n", "")
    s"""WITH e AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       |  WHERE list_dot_product(
       |    CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])) > 0),
       |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
       |cand0 AS (
       |  SELECT q.query_id, e.vec_id AS nid, e.v AS cv,
       |    ${sc4("qv", "e.v")} AS rel4
       |  FROM e, q WHERE e.vec_id <> q.query_id),
       |cand AS MATERIALIZED (
       |  SELECT query_id, nid, cv, rel4 FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY rel4 DESC, nid) AS rn FROM cand0)
       |  WHERE rn <= 40),
       |chosen1 AS MATERIALIZED (
       |  SELECT query_id, nid, cv, 7 * rel4 AS score, 1 AS rank FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY rel4 DESC, nid) AS rn FROM cand)
       |  WHERE rn = 1)$steps
       |SELECT query_id, nid AS neighbor_id, CAST(rank AS BIGINT) AS rank,
       |  CAST(score AS BIGINT) AS mmr_scaled
       |FROM chosen8""".stripMargin
  }

  def s2AnnLsh(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    Similarity.lshTopK(e, e.filter(col("vec_id") < 10), k = 5, numPlanes = 8)
  }

  /** s2's DuckDB twin. The hyperplane matrix is md5-derived (the same
    * "plane-p:d" hash the Spark literal matrix is built from), so
    * DuckDB recomputes identical components; the bucket signature is a
    * sign-bit sum; multi-probe explodes the query signature plus its 8
    * hamming-1 neighbors. Sign flips from double-addition order are the
    * only cross-engine risk — dots here are O(1)-magnitude with ~1e-15
    * accumulation drift, far from the sign boundary in this data.
    */
  val s2Sql: String =
    s"""WITH e AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |planes AS (
       |  SELECT p.p AS plane, list_transform(range(0, 64), d ->
       |    CAST(concat('0x', substr(md5(concat('plane-', p.p, ':', d)), 1, 15)) AS BIGINT)
       |      / 1152921504606846976.0 - 0.5) AS pv
       |  FROM (SELECT unnest(range(0, 8)) AS p) p),
       |sigs AS (
       |  SELECT vec_id,
       |    CAST(SUM(CASE WHEN list_dot_product(v, pv) >= 0
       |      THEN (CAST(1 AS BIGINT) << plane) ELSE 0 END) AS BIGINT) AS sig
       |  FROM e, planes GROUP BY vec_id),
       |corpus AS (
       |  SELECT e.vec_id AS neighbor_id, v AS cv, sig AS bucket
       |  FROM e JOIN sigs USING (vec_id)),
       |qs AS (
       |  SELECT e.vec_id AS query_id, v AS qv, sig
       |  FROM e JOIN sigs USING (vec_id) WHERE vec_id < 10),
       |probes AS (
       |  SELECT query_id, qv,
       |    unnest(list_prepend(sig, list_transform(range(0, 8), p ->
       |      xor(sig, CAST(1 AS BIGINT) << p)))) AS bucket
       |  FROM qs),
       |cand AS (
       |  SELECT DISTINCT query_id, neighbor_id, qv, cv
       |  FROM probes JOIN corpus USING (bucket)
       |  WHERE neighbor_id <> query_id),
       |rk AS (
       |  SELECT query_id, neighbor_id, ${duckCos("qv", "cv")} AS cos,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY ${duckCos("qv", "cv")} DESC, neighbor_id) AS BIGINT) AS rank
       |  FROM cand)
       |SELECT query_id, neighbor_id, round(cos, 6) AS cos, rank
       |FROM rk WHERE rank <= 5""".stripMargin

  /** s3 — IVF ANN with label-keyed coarse quantizer. */
  def s3AnnIvf(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val cents = Similarity.centroids(e, col("label"))
    Similarity.ivfTopK(e, e.filter(col("vec_id") < 10), cents,
      k = 5, nProbe = 3)
  }

  /** s3b — s3 with the single-shuffle native `vec_sum` centroid
    * trainer ([[Similarity.centroidsAgg]]) instead of the posexplode
    * form. Rows-only gated: centroid addition order differs, so a
    * vector equidistant from two lists may assign differently — the
    * recall spec and the 1e-9 centroid-drift bound cover it; the
    * DuckDB twin stays pinned to the dim-major s3.
    */
  def s3bAnnIvfAgg(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val cents = Similarity.centroidsAgg(e, col("label"))
    Similarity.ivfTopK(e, e.filter(col("vec_id") < 10), cents,
      k = 5, nProbe = 3)
  }

  /** s3's DuckDB twin: elementwise-mean centroids per label (the 64
    * dims are explicit — the testdata embedding width), nearest-list
    * assignment (keep 1) and query probes (keep 3) by centroid cosine,
    * then exact scoring within the probed lists. Centroid float drift
    * between engines can only flip a near-tied argmax — the output
    * cosines are over the ORIGINAL vectors, so list choice is the only
    * cross-engine surface.
    */
  val s3Sql: String =
    s"""WITH e AS (
       |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |cents AS (
       |  SELECT label, p.pos AS pos, AVG(v[p.pos]) AS m
       |  FROM e, (SELECT unnest(range(1, 65)) AS pos) p
       |  GROUP BY 1, 2),
       |clist AS (
       |  SELECT label AS list_id, list(m ORDER BY pos) AS c
       |  FROM cents GROUP BY label),
       |assigned AS (
       |  SELECT neighbor_id, cv, list_id FROM (
       |    SELECT e.vec_id AS neighbor_id, e.v AS cv, cl.list_id,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |        ORDER BY round(${duckCos("e.v", "cl.c")}, 4) DESC, cl.list_id) AS r
       |    FROM e, clist cl) WHERE r = 1),
       |probes AS (
       |  SELECT query_id, qv, list_id FROM (
       |    SELECT e.vec_id AS query_id, e.v AS qv, cl.list_id,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |        ORDER BY round(${duckCos("e.v", "cl.c")}, 4) DESC, cl.list_id) AS r
       |    FROM e, clist cl WHERE e.vec_id < 10) WHERE r <= 3),
       |scored AS (
       |  SELECT query_id, neighbor_id, ${duckCos("qv", "cv")} AS cos
       |  FROM probes JOIN assigned USING (list_id)
       |  WHERE neighbor_id <> query_id),
       |rk AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank FROM scored)
       |SELECT query_id, neighbor_id, round(cos, 6) AS cos, rank
       |FROM rk WHERE rank <= 5""".stripMargin

  /** s9 — FILTERED ANN: s3's IVF search restricted to a metadata
    * predicate (neighbors must come from sources src0–src4, resolved
    * through the doc_id = vec_id join) with the index built over the
    * FULL corpus — the production filtered-search regime: the
    * inverted lists are trained/stored once, the filter varies per
    * request. The filter is a PRE-filter (left-semi on the corpus
    * side BEFORE list scoring), so within the probed lists the
    * result is exact over the allowed set — there is no post-filter
    * top-k recall cliff (filtering AFTER top-k can return < k rows,
    * or none, when the filter is selective; the semi-join form
    * degrades recall only through the probe choice, same as s3).
    * Assignment is per-vector and filter-independent, so
    * filter-then-assign ≡ assign-then-filter — what lets the STORED
    * lists serve any filter ([[graft.sources.VecStore.ivfTopK]]'s
    * `among` face, spec'd equal to this operator). Scale shape: the
    * semi-join is id-grain, AQE-sized; everything else is s3's plan.
    */
  def s9AnnFiltered(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val allowed = docs(s, dir)
      .filter(col("source").isin("src0", "src1", "src2", "src3", "src4"))
      .select(col("doc_id").as("vec_id"))
    val cents = Similarity.centroids(e, col("label"))
    Similarity.ivfTopK(e.join(allowed, Seq("vec_id"), "left_semi"),
      e.filter(col("vec_id") < 10), cents, k = 5, nProbe = 3)
  }

  /** s9's DuckDB twin: s3's oracle with the `assigned` side semi-
    * joined to the allowed doc ids — queries and centroids stay
    * full-corpus.
    */
  val s9Sql: String =
    s"""WITH e AS (
       |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |allowed AS (
       |  SELECT doc_id AS vec_id FROM documents
       |  WHERE source IN ('src0', 'src1', 'src2', 'src3', 'src4')),
       |cents AS (
       |  SELECT label, p.pos AS pos, AVG(v[p.pos]) AS m
       |  FROM e, (SELECT unnest(range(1, 65)) AS pos) p
       |  GROUP BY 1, 2),
       |clist AS (
       |  SELECT label AS list_id, list(m ORDER BY pos) AS c
       |  FROM cents GROUP BY label),
       |assigned AS (
       |  SELECT neighbor_id, cv, list_id FROM (
       |    SELECT e.vec_id AS neighbor_id, e.v AS cv, cl.list_id,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |        ORDER BY round(${duckCos("e.v", "cl.c")}, 4) DESC, cl.list_id) AS r
       |    FROM e JOIN allowed USING (vec_id), clist cl) WHERE r = 1),
       |probes AS (
       |  SELECT query_id, qv, list_id FROM (
       |    SELECT e.vec_id AS query_id, e.v AS qv, cl.list_id,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |        ORDER BY round(${duckCos("e.v", "cl.c")}, 4) DESC, cl.list_id) AS r
       |    FROM e, clist cl WHERE e.vec_id < 10) WHERE r <= 3),
       |scored AS (
       |  SELECT query_id, neighbor_id, ${duckCos("qv", "cv")} AS cos
       |  FROM probes JOIN assigned USING (list_id)
       |  WHERE neighbor_id <> query_id),
       |rk AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank FROM scored)
       |SELECT query_id, neighbor_id, round(cos, 6) AS cos, rank
       |FROM rk WHERE rank <= 5""".stripMargin

  /** s10 — range (radius) search ([[Similarity.rangeSearch]], τ=0.35):
    * everything within a fixed cosine radius of each query — the
    * audit-shaped retrieval top-k cannot state (its output size is
    * data-determined). Exact brute scan with the broadcast query side;
    * boundary membership decided on round(cos, 4), values emitted at
    * round 6 — both engine-deterministic, so the oracle hash-gates.
    */
  def s10RangeSearch(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    Similarity.rangeSearch(e, e.filter(col("vec_id") < 10), minCos = 0.35)
  }

  val s10Sql: String =
    s"""WITH e AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10)
       |SELECT q.query_id, e.vec_id AS neighbor_id,
       |  round(${duckCos("qv", "v")}, 6) AS cos
       |FROM e, q
       |WHERE e.vec_id <> q.query_id
       |  AND round(${duckCos("qv", "v")}, 4) >= 0.35""".stripMargin

  /** s7 — tree-IVF ANN: the two-level coarse quantizer
    * ([[Similarity.treeQuantizer]] — seeds = 3 lowest-list_id leaf
    * centroids, one Lloyd step, leaves re-assigned to the refined
    * tops), corpus and probes descending nearest-top → nearest-leaf-
    * within-subtree instead of scanning all lists. Queries probe 2
    * subtrees and the 3 best leaves inside them. Every argmax is the
    * 4dp-rounded cosine with id tie-break, so the DuckDB twin derives
    * the identical tree and the oracle gates assignments AND scores.
    */
  def s7AnnIvfTree(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val cents = Similarity.centroids(e, col("label"))
    Similarity.ivfTreeTopK(e, e.filter(col("vec_id") < 10), cents,
      k = 5, topCount = 3, nProbeTop = 2, nProbe = 3)
  }

  /** s7's DuckDB twin: s3's dim-major leaf centroids, then the tree —
    * seeds (3 lowest list_ids, top_id by list_id order), one Lloyd
    * step (leaf→seed 4dp argmax, dim-major member mean), leaf
    * re-assignment to refined tops, two-level descent for corpus and
    * queries (level 2 joined on the assigned/probed subtree only),
    * exact scoring inside the probed leaves.
    */
  val s7Sql: String =
    s"""WITH e AS (
       |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |cents AS (
       |  SELECT label, p.pos AS pos, AVG(v[p.pos]) AS m
       |  FROM e, (SELECT unnest(range(1, 65)) AS pos) p
       |  GROUP BY 1, 2),
       |clist AS (
       |  SELECT label AS list_id, list(m ORDER BY pos) AS c
       |  FROM cents GROUP BY label),
       |seeds AS (
       |  SELECT top_id, c AS sc FROM (
       |    SELECT list_id, c,
       |      CAST(ROW_NUMBER() OVER (ORDER BY list_id) - 1 AS BIGINT) AS top_id
       |    FROM clist) WHERE top_id < 3),
       |lseed AS (
       |  SELECT list_id, top_id FROM (
       |    SELECT cl.list_id, s.top_id,
       |      ROW_NUMBER() OVER (PARTITION BY cl.list_id
       |        ORDER BY round(${duckCos("cl.c", "s.sc")}, 4) DESC, s.top_id) AS r
       |    FROM clist cl, seeds s) WHERE r = 1),
       |tops AS (
       |  SELECT top_id, list(m ORDER BY pos) AS tc FROM (
       |    SELECT ls.top_id, p.pos AS pos, AVG(cl.c[p.pos]) AS m
       |    FROM lseed ls JOIN clist cl USING (list_id),
       |      (SELECT unnest(range(1, 65)) AS pos) p
       |    GROUP BY 1, 2) GROUP BY top_id),
       |lmap AS (
       |  SELECT list_id, top_id FROM (
       |    SELECT cl.list_id, t.top_id,
       |      ROW_NUMBER() OVER (PARTITION BY cl.list_id
       |        ORDER BY round(${duckCos("cl.c", "t.tc")}, 4) DESC, t.top_id) AS r
       |    FROM clist cl, tops t) WHERE r = 1),
       |atop AS (
       |  SELECT id AS neighbor_id, v_ AS cv, pick_ AS top_id FROM (
       |    SELECT e.vec_id, e.v AS v_, t.top_id AS pick_, e.vec_id AS id,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |        ORDER BY round(${duckCos("e.v", "t.tc")}, 4) DESC, t.top_id) AS r
       |    FROM e, tops t) WHERE r = 1),
       |assigned AS (
       |  SELECT neighbor_id, cv, list_id FROM (
       |    SELECT a.neighbor_id, a.cv, lm.list_id,
       |      ROW_NUMBER() OVER (PARTITION BY a.neighbor_id
       |        ORDER BY round(${duckCos("a.cv", "cl.c")}, 4) DESC, lm.list_id) AS r
       |    FROM atop a JOIN lmap lm USING (top_id)
       |      JOIN clist cl ON lm.list_id = cl.list_id) WHERE r = 1),
       |qtop AS (
       |  SELECT id AS query_id, v_ AS qv, pick_ AS top_id FROM (
       |    SELECT e.vec_id, e.v AS v_, t.top_id AS pick_, e.vec_id AS id,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |        ORDER BY round(${duckCos("e.v", "t.tc")}, 4) DESC, t.top_id) AS r
       |    FROM e, tops t WHERE e.vec_id < 10) WHERE r <= 2),
       |probes AS (
       |  SELECT query_id, qv, list_id FROM (
       |    SELECT q.query_id, q.qv, lm.list_id,
       |      ROW_NUMBER() OVER (PARTITION BY q.query_id
       |        ORDER BY round(${duckCos("q.qv", "cl.c")}, 4) DESC, lm.list_id) AS r
       |    FROM qtop q JOIN lmap lm USING (top_id)
       |      JOIN clist cl ON lm.list_id = cl.list_id) WHERE r <= 3),
       |scored AS (
       |  SELECT query_id, neighbor_id, ${duckCos("qv", "cv")} AS cos
       |  FROM probes JOIN assigned USING (list_id)
       |  WHERE neighbor_id <> query_id),
       |rk AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank FROM scored)
       |SELECT query_id, neighbor_id, round(cos, 6) AS cos, rank
       |FROM rk WHERE rank <= 5""".stripMargin

  /** s4 — int8 scalar quantization error audit over the embeddings
    * table; see [[Similarity.quantize]]. Zero-shuffle scan projection.
    */
  def s4EmbeddingQuantize(s: SparkSession, dir: String): DataFrame =
    Similarity.quantize(emb(s, dir))

  /** s5 — product-quantized ANN (ADC top-k); see [[Similarity.pqTopK]].
    * The whole pipeline is deterministic (lowest-id seed vectors, one
    * Lloyd step, position-order float sums, id tiebreaks), so the
    * DuckDB twin retrains the identical codebook and the oracle gates
    * codes AND scores — the cross-engine surface is the same near-tied
    * argmin class s3 carries.
    */
  def s5AnnPq(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    Similarity.pqTopK(e, e.filter(col("vec_id") < 10), k = 5)
  }

  /** s5's DuckDB twin: same unit normalization, same subspace slicing
    * (8×8 of the 64-dim testdata vectors), same seeds (16 lowest-id
    * full vectors), same one-step Lloyd refine (dim-major AVG, as the
    * s3 centroid twin), same L2 argmin with code-id tiebreak, same ADC
    * dot-table scoring. Squared diffs are written `x*x` (not pow) to
    * match Spark's multiply bitwise.
    */
  val s5Sql: String =
    s"""WITH e0 AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v0 FROM embeddings
       |  WHERE len(embedding) = 64),
       |e AS (
       |  SELECT vec_id, list_transform(v0,
       |    x -> x / sqrt(list_dot_product(v0, v0))) AS v
       |  FROM e0 WHERE sqrt(list_dot_product(v0, v0)) > 0),
       |subs AS (
       |  SELECT vec_id, s.sub AS sub, v[s.sub*8+1 : s.sub*8+8] AS sv
       |  FROM e, (SELECT unnest(range(0, 8)) AS sub) s),
       |seedv AS (SELECT vec_id AS seed_id, v FROM e ORDER BY vec_id LIMIT 16),
       |seeds AS (
       |  SELECT seed_id, s.sub AS sub, v[s.sub*8+1 : s.sub*8+8] AS ssv
       |  FROM seedv, (SELECT unnest(range(0, 8)) AS sub) s),
       |assign AS (
       |  SELECT vec_id, sub, seed_id AS code, sv FROM (
       |    SELECT b.vec_id, b.sub, s.seed_id, b.sv,
       |      ROW_NUMBER() OVER (PARTITION BY b.vec_id, b.sub
       |        ORDER BY list_sum(list_transform(range(1, 9),
       |          i -> (b.sv[i]-s.ssv[i])*(b.sv[i]-s.ssv[i]))), s.seed_id) AS r
       |    FROM subs b JOIN seeds s USING (sub)) WHERE r = 1),
       |cmeans AS (
       |  SELECT sub, code, p.pos AS pos, AVG(sv[p.pos]) AS m
       |  FROM assign, (SELECT unnest(range(1, 9)) AS pos) p
       |  GROUP BY 1, 2, 3),
       |cbook AS (
       |  SELECT sub, code, list(m ORDER BY pos) AS cw
       |  FROM cmeans GROUP BY 1, 2),
       |codes AS (
       |  SELECT vec_id, sub, code FROM (
       |    SELECT b.vec_id, b.sub, c.code,
       |      ROW_NUMBER() OVER (PARTITION BY b.vec_id, b.sub
       |        ORDER BY list_sum(list_transform(range(1, 9),
       |          i -> (b.sv[i]-c.cw[i])*(b.sv[i]-c.cw[i]))), c.code) AS r
       |    FROM subs b JOIN cbook c USING (sub)) WHERE r = 1),
       |dt AS (
       |  SELECT q.vec_id AS query_id, q.sub AS sub, c.code AS code,
       |    list_dot_product(q.sv, c.cw) AS pd
       |  FROM subs q JOIN cbook c USING (sub) WHERE q.vec_id < 10),
       |scored AS (
       |  SELECT dt.query_id, codes.vec_id AS neighbor_id, SUM(pd) AS adc
       |  FROM codes JOIN dt USING (sub, code)
       |  WHERE codes.vec_id <> dt.query_id
       |  GROUP BY 1, 2),
       |-- scaled shortlist (Similarity.scaledShortlist): whole-corpus
       |-- ADC probes every row, so max(50, n // 8), floor division
       |sl AS (SELECT GREATEST(50, count(*) // 8) AS n FROM embeddings),
       |short AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id, ROW_NUMBER() OVER (
       |      PARTITION BY query_id ORDER BY adc DESC, neighbor_id) AS r0
       |    FROM scored) WHERE r0 <= (SELECT n FROM sl)),
       |rer AS (
       |  SELECT s.query_id, s.neighbor_id,
       |    list_dot_product(q.v, n.v) AS cos
       |  FROM short s
       |  JOIN e q ON q.vec_id = s.query_id
       |  JOIN e n ON n.vec_id = s.neighbor_id),
       |rk AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank FROM rer)
       |SELECT query_id, neighbor_id, round(cos, 6) AS cos, rank
       |FROM rk WHERE rank <= 5""".stripMargin

  /** s6 — IVF+PQ (see [[Similarity.ivfPqTopK]]): coarse label-trained
    * lists × PQ-ADC inside the probed lists × exact re-rank.
    */
  def s6AnnIvfPq(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    Similarity.ivfPqTopK(e, e.filter(col("vec_id") < 10),
      Similarity.centroids(e, col("label")), k = 5, nProbe = 5)
  }

  /** s6's DuckDB twin: s3's list assignment/probing (over the unit
    * vectors — cosine is scale-invariant, so ranking matches the raw
    * s3 form) composed with s5's PQ train/encode/ADC, the ADC join
    * additionally keyed on the probed list. */
  val s6Sql: String =
    s"""WITH e0 AS (
       |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v0
       |  FROM embeddings),
       |cents AS (
       |  -- over ALL rows, like the Spark side's raw-table centroids
       |  -- (v0[pos] past a short vector is NULL and AVG skips it,
       |  -- matching posexplode's existing-positions-only semantics)
       |  SELECT e0.label, p.pos AS pos, AVG(v0[p.pos]) AS m
       |  FROM e0, (SELECT unnest(range(1, 65)) AS pos) p
       |  GROUP BY 1, 2),
       |e AS (
       |  SELECT vec_id, label, list_transform(v0,
       |    x -> x / sqrt(list_dot_product(v0, v0))) AS v
       |  FROM e0 WHERE len(v0) = 64
       |    AND sqrt(list_dot_product(v0, v0)) > 0),
       |clist AS (
       |  SELECT label AS list_id, list(m ORDER BY pos) AS c
       |  FROM cents GROUP BY label),
       |assigned AS (
       |  SELECT vec_id, list_id FROM (
       |    SELECT e.vec_id, cl.list_id,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |        ORDER BY round(${duckCos("e.v", "cl.c")}, 4) DESC, cl.list_id) AS r
       |    FROM e, clist cl) WHERE r = 1),
       |probes AS (
       |  SELECT query_id, list_id FROM (
       |    SELECT e.vec_id AS query_id, cl.list_id,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |        ORDER BY round(${duckCos("e.v", "cl.c")}, 4) DESC, cl.list_id) AS r
       |    FROM e, clist cl WHERE e.vec_id < 10) WHERE r <= 5),
       |subs AS (
       |  SELECT vec_id, s.sub AS sub, v[s.sub*8+1 : s.sub*8+8] AS sv
       |  FROM e, (SELECT unnest(range(0, 8)) AS sub) s),
       |seedv AS (SELECT vec_id AS seed_id, v FROM e ORDER BY vec_id LIMIT 16),
       |seeds AS (
       |  SELECT seed_id, s.sub AS sub, v[s.sub*8+1 : s.sub*8+8] AS ssv
       |  FROM seedv, (SELECT unnest(range(0, 8)) AS sub) s),
       |assign AS (
       |  SELECT vec_id, sub, seed_id AS code, sv FROM (
       |    SELECT b.vec_id, b.sub, s.seed_id, b.sv,
       |      ROW_NUMBER() OVER (PARTITION BY b.vec_id, b.sub
       |        ORDER BY list_sum(list_transform(range(1, 9),
       |          i -> (b.sv[i]-s.ssv[i])*(b.sv[i]-s.ssv[i]))), s.seed_id) AS r
       |    FROM subs b JOIN seeds s USING (sub)) WHERE r = 1),
       |cmeans AS (
       |  SELECT sub, code, p.pos AS pos, AVG(sv[p.pos]) AS m
       |  FROM assign, (SELECT unnest(range(1, 9)) AS pos) p
       |  GROUP BY 1, 2, 3),
       |cbook AS (
       |  SELECT sub, code, list(m ORDER BY pos) AS cw
       |  FROM cmeans GROUP BY 1, 2),
       |codes AS (
       |  SELECT vec_id, sub, code FROM (
       |    SELECT b.vec_id, b.sub, c.code,
       |      ROW_NUMBER() OVER (PARTITION BY b.vec_id, b.sub
       |        ORDER BY list_sum(list_transform(range(1, 9),
       |          i -> (b.sv[i]-c.cw[i])*(b.sv[i]-c.cw[i]))), c.code) AS r
       |    FROM subs b JOIN cbook c USING (sub)) WHERE r = 1),
       |codesl AS (
       |  SELECT c.vec_id, c.sub, c.code, a.list_id
       |  FROM codes c JOIN assigned a USING (vec_id)),
       |dt AS (
       |  SELECT q.vec_id AS query_id, q.sub AS sub, c.code AS code,
       |    list_dot_product(q.sv, c.cw) AS pd
       |  FROM subs q JOIN cbook c USING (sub) WHERE q.vec_id < 10),
       |dtp AS (
       |  SELECT dt.query_id, dt.sub, dt.code, dt.pd, p.list_id
       |  FROM dt JOIN probes p USING (query_id)),
       |scored AS (
       |  SELECT dtp.query_id, codesl.vec_id AS neighbor_id, SUM(pd) AS adc
       |  FROM codesl JOIN dtp USING (sub, code, list_id)
       |  WHERE codesl.vec_id <> dtp.query_id
       |  GROUP BY 1, 2),
       |-- scaled shortlist (Similarity.scaledShortlist): probed volume
       |-- is corpus·nProbe/lists — max(50, n*5 // lists // 8), floor
       |-- division like the Scala long arithmetic
       |sl AS (SELECT GREATEST(50, count(*) * 5
       |    // (SELECT count(DISTINCT label) FROM embeddings) // 8) AS n
       |  FROM embeddings),
       |short AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id, ROW_NUMBER() OVER (
       |      PARTITION BY query_id ORDER BY adc DESC, neighbor_id) AS r0
       |    FROM scored) WHERE r0 <= (SELECT n FROM sl)),
       |rer AS (
       |  SELECT s.query_id, s.neighbor_id,
       |    list_dot_product(q.v, n.v) AS cos
       |  FROM short s
       |  JOIN e q ON q.vec_id = s.query_id
       |  JOIN e n ON n.vec_id = s.neighbor_id),
       |rk AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank FROM rer)
       |SELECT query_id, neighbor_id, round(cos, 6) AS cos, rank
       |FROM rk WHERE rank <= 5""".stripMargin

  val s4Sql: String =
    s"""WITH e AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |q AS (
       |  SELECT vec_id, v, list_min(v) AS mn,
       |    (list_max(v) - list_min(v)) / 255.0 AS sc FROM e),
       |err AS (
       |  SELECT vec_id, mn, sc,
       |    CASE WHEN sc > 0 THEN
       |      list_transform(v, x -> abs(x - (mn + round((x - mn) / sc) * sc)))
       |    ELSE list_transform(v, x -> 0.0) END AS ae,
       |    len(v) AS n
       |  FROM q)
       |SELECT vec_id, round(mn, 6) AS qmin, round(sc, 6) AS qscale,
       |  -- COALESCE: list_sum of an empty list is NULL in DuckDB while
       |  -- Spark's aggregate(, 0.0, +) folds to 0.0 — a zero-length
       |  -- vector must agree on mean_abs_err = 0.0 in both engines
       |  round(COALESCE(list_sum(ae), 0.0) / greatest(n, 1), 6)
       |    AS mean_abs_err,
       |  round(list_max(ae), 6) AS max_abs_err
       |FROM err""".stripMargin

  // ===========================================================
  // t-block: text analysis
  // ===========================================================

  def t1LangId(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.langId(docs(s, dir))

  private def duckStopHits(lang: String): String = {
    val list = TextAnalysis.stopwords.toMap.apply(lang)
      .map(w => s"'$w'").mkString("[", ",", "]")
    s"CAST(len(list_filter(ws, w -> list_contains($list, w))) AS BIGINT)"
  }

  val t1Sql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, lang, ${duckWords("text")} AS ws FROM documents),
       |h AS (
       |  SELECT doc_id, lang,
       |    ${duckStopHits("en")} AS en_hits,
       |    ${duckStopHits("de")} AS de_hits,
       |    ${duckStopHits("es")} AS es_hits,
       |    ${duckStopHits("fr")} AS fr_hits
       |  FROM toks)
       |SELECT doc_id, lang,
       |  CASE WHEN en_hits + de_hits + es_hits + fr_hits = 0 THEN 'und'
       |       WHEN en_hits >= de_hits AND en_hits >= es_hits AND en_hits >= fr_hits THEN 'en'
       |       WHEN de_hits >= es_hits AND de_hits >= fr_hits THEN 'de'
       |       WHEN es_hits >= fr_hits THEN 'es' ELSE 'fr' END AS pred_lang,
       |  en_hits, de_hits, es_hits, fr_hits
       |FROM h""".stripMargin

  def t2QualityScore(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.qualityScore(docs(s, dir))

  val t2Sql: String = {
    val allStops = duckAllStops
    s"""WITH toks AS (
       |  SELECT doc_id, text, ${duckWords("text")} AS ws FROM documents),
       |m AS (
       |  SELECT doc_id,
       |    CAST(length(text) AS BIGINT) AS n_chars_m,
       |    CAST(len(ws) AS BIGINT) AS n_words,
       |    CAST(length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g')) AS BIGINT) AS n_punct,
       |    CAST(len(list_filter(ws, w -> list_contains($allStops, w))) AS BIGINT) AS stop_hits,
       |    CAST(list_sum(list_transform(ws, w -> length(w))) AS BIGINT) AS char_sum
       |  FROM toks)
       |SELECT doc_id, n_chars_m, n_words, n_punct,
       |  round(CASE WHEN n_chars_m > 0 THEN CAST(n_punct AS DOUBLE) / n_chars_m ELSE 0.0 END, 6) AS punct_ratio,
       |  round(CASE WHEN n_words > 0 THEN CAST(stop_hits AS DOUBLE) / n_words ELSE 0.0 END, 6) AS stopword_ratio,
       |  round(CASE WHEN n_words > 0 THEN CAST(char_sum AS DOUBLE) / n_words ELSE 0.0 END, 6) AS avg_word_len
       |FROM m""".stripMargin
  }

  /** t13 — the Gopher-rule quality gate; see
    * [[TextAnalysis.gopherFilter]]. Every rule verdict is exact
    * integer arithmetic, so both engines agree bit-for-bit.
    */
  def t13GopherFilter(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.gopherFilter(docs(s, dir))

  /** t17 — BM25 ranked retrieval ([[TextAnalysis.bm25]]) for the
    * 3-term query window/merge/stream. Integer-exact end to end (idf
    * on the nanobit lattice, ONE floor division per term, order-free
    * integer sum) — the oracle hash-gates every document's score.
    */
  def t17Bm25(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.bm25(docs(s, dir), Seq("window", "merge", "stream"))

  val t17Sql: String = {
    def nb(x: String) = s"CAST(round(log2($x) * 1e9) AS BIGINT)"
    s"""WITH ws AS (
       |  SELECT doc_id, ${duckWords("text")} AS ws FROM documents),
       |d AS (SELECT doc_id, ws, CAST(len(ws) AS BIGINT) AS len FROM ws),
       |tot AS (
       |  SELECT COUNT(*) AS n_docs, SUM(len) AS n_words FROM d),
       |tf AS (
       |  SELECT doc_id, len, w AS term, COUNT(*) AS tf
       |  FROM (SELECT doc_id, len, unnest(ws) AS w FROM d)
       |  WHERE w IN ('window', 'merge', 'stream')
       |  GROUP BY 1, 2, 3),
       |dfx AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
       |scored AS (
       |  SELECT tf.doc_id,
       |    (${nb("2 * n_docs - 2 * df + 1")} - ${nb("2 * df + 1")})
       |      * 22 * tf * (n_words // n_docs)
       |      // (10 * tf * (n_words // n_docs) + 3 * (n_words // n_docs)
       |         + 9 * len) AS term_nb
       |  FROM tf JOIN dfx USING (term) CROSS JOIN tot)
       |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits,
       |  CAST(SUM(term_nb) AS BIGINT) AS score_nb
       |FROM scored GROUP BY 1""".stripMargin
  }

  /** t16 — DEFLATE compression-ratio gate
    * ([[TextAnalysis.compressionGate]]). Rows-only at the driver (no
    * SQL engine exposes deflate); the kernel is spec-gated bit-for-bit
    * against a fresh-Deflater JDK recompute and the verdict band
    * against constructed repetitive/natural/incompressible texts.
    */
  def t16CompressRatio(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.compressionGate(docs(s, dir))

  /** DuckDB: the shared t13/p3 metric CTE block (toks → g → m) — the
    * ONE definition of the gate's base metrics, so the two oracles
    * cannot drift on the same rule arithmetic. `extraToks` is a
    * computed-column fragment added to toks (trailing comma included
    * by the caller); `extraM` re-selects those names through m.
    */
  private def duckGopherMetrics(
      extraToks: String, extraM: String): String =
    s"""toks AS (
       |  SELECT doc_id, text,$extraToks ${duckWords("text")} AS ws
       |  FROM documents),
       |g AS (
       |  SELECT *, CASE WHEN len(ws) >= 2 THEN
       |      [ws[i] || ' ' || ws[i+1] for i in range(1, len(ws))]
       |    ELSE [] END AS grams
       |  FROM toks),
       |m AS (
       |  SELECT doc_id,$extraM
       |    CAST(length(text) AS BIGINT) AS n_chars,
       |    CAST(len(ws) AS BIGINT) AS n_words,
       |    CAST(length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g')) AS BIGINT) AS n_punct,
       |    CAST(len(list_filter(ws, w -> list_contains(${duckAllStops}, w))) AS BIGINT) AS stop_hits,
       |    CAST(COALESCE(list_sum(list_transform(ws, w -> length(w))), 0) AS BIGINT) AS char_sum,
       |    CAST(len(grams) AS BIGINT) AS n_grams,
       |    CAST(len(grams) - len(list_distinct(grams)) AS BIGINT) AS n_dup_grams
       |  FROM g)""".stripMargin

  /** The five Gopher rules as DuckDB predicates over m's columns —
    * shared verbatim by t13Sql (per-rule verdicts) and p3Sql (the
    * combined keep). Order matches [[TextAnalysis.gopherFilter]].
    */
  private val duckGopherRules: Seq[(String, String)] = Seq(
    "r_word_count" -> "n_words BETWEEN 20 AND 90",
    "r_word_len" -> "char_sum >= n_words * 4 AND char_sum <= n_words * 5",
    "r_symbol" -> "n_punct * 10 <= n_chars",
    "r_stopwords" -> "stop_hits >= 2",
    "r_repetition" -> "n_dup_grams * 20 <= n_grams")

  val t13Sql: String =
    s"""WITH ${duckGopherMetrics("", "")},
       |r AS (
       |  SELECT doc_id, n_words, char_sum, stop_hits, n_grams, n_dup_grams,
       |${duckGopherRules.map { case (n, p) => s"    $p AS $n," }
        .mkString("\n").dropRight(1)}
       |  FROM m)
       |SELECT doc_id, n_words, char_sum, stop_hits, n_grams, n_dup_grams,
       |  r_word_count, r_word_len, r_symbol, r_stopwords, r_repetition,
       |  r_word_count AND r_word_len AND r_symbol AND r_stopwords
       |    AND r_repetition AS keep,
       |  CAST((CASE WHEN r_word_count THEN 0 ELSE 1 END)
       |    + (CASE WHEN r_word_len THEN 0 ELSE 1 END)
       |    + (CASE WHEN r_symbol THEN 0 ELSE 1 END)
       |    + (CASE WHEN r_stopwords THEN 0 ELSE 1 END)
       |    + (CASE WHEN r_repetition THEN 0 ELSE 1 END) AS BIGINT)
       |    AS n_failed
       |FROM r""".stripMargin

  /** p6 — CURRICULUM packing: the training schedule quality-ordered —
    * documents stratify by their Gopher rule-failure count (t13's
    * integer-exact battery: level 0 = passes everything, trains
    * first) and pack into fixed-length sequences WITHIN each level
    * (t12's bucketed prefix sum per stratum), so the training loop
    * reads batches in (level, seq) order: cleanest data first, each
    * level internally hash-shuffled — the curriculum form of Rae et
    * al.'s filtering, keeping every document (down-ranked, not
    * dropped). One scan computes the rules, the packing is the t12
    * machinery with level as the stratum — the oracle composes the
    * two proven twins and hash-gates the full schedule.
    */
  def p6Curriculum(s: SparkSession, dir: String): DataFrame = {
    val leveled = TextAnalysis.gopherFilter(docs(s, dir))
      .select(col("doc_id"), col("n_failed").as("level"),
        col("n_words").as("n_tokens"))
    Sampling.sequencePack(leveled, stratum = "level", id = "doc_id",
      tokens = col("n_tokens"), seqTokens = 256)
  }

  val p6Sql: String =
    s"""WITH ${duckGopherMetrics("", "")},
       |lv AS (
       |  SELECT doc_id, n_words,
       |    CAST(${duckGopherRules.map { case (_, p) =>
            s"(CASE WHEN $p THEN 0 ELSE 1 END)" }.mkString(" + ")}
       |      AS BIGINT) AS level,
       |    ${duckHash60("'0'", "CAST(doc_id AS VARCHAR)")} AS u
       |  FROM m),
       |c AS (
       |  SELECT doc_id, level, n_words AS n_tokens,
       |    CAST(SUM(n_words) OVER (PARTITION BY level ORDER BY u, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS cum_tokens
       |  FROM lv WHERE n_words > 0)
       |SELECT doc_id, level, n_tokens, cum_tokens,
       |  CAST(cum_tokens - n_tokens AS BIGINT) AS start_tok,
       |  CAST((cum_tokens - n_tokens) // 256 AS BIGINT) AS first_seq,
       |  CAST((cum_tokens - 1) // 256 AS BIGINT) AS last_seq,
       |  CAST((cum_tokens - n_tokens) % 256 AS BIGINT) AS offset_in_seq
       |FROM c""".stripMargin

  def t3TokenCount(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.tokenCount(docs(s, dir))

  val t3Sql: String =
    s"""SELECT doc_id,
       |  CAST(len(${duckWords("text")}) AS BIGINT) AS ws_tokens,
       |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]')) AS BIGINT) AS bpe_tokens
       |FROM documents""".stripMargin

  /** t3b — REAL BPE token counts ([[TextAnalysis.bpeTokenCount]]):
    * the greedy ranked-merge loop over the trained fixture table is
    * not SQL-expressible, so this row is declared rows-only — gated
    * instead by the parity spec against an independent reference
    * implementation, the fixture-string cases, and the t12 packing
    * manifest re-run under these counts (PipelineSpec).
    */
  def t3bBpeTokenCount(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.bpeTokenCount(docs(s, dir))

  /** t15 — declared rows-only like t3b (ranked greedy merging is not
    * SQL); gated by the PipelineSpec id-grain round-trip, the
    * t3b count consistency, the bounded-vocab assertion, and the
    * zero-unknown check — see [[TextAnalysis.bpeTokenize]].
    *
    * The registry face serializes the id array as a space-joined
    * string: the driver's checker sorts every result column in pandas
    * to record row counts, and array-typed cells crash that sort —
    * a string column gives the rows-only record real evidence.
    */
  def t15BpeTokenize(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.bpeTokenize(docs(s, dir))
      .withColumn("ids", concat_ws(" ", col("ids")))

  /** p5 — MATERIALIZED training batches: t15's id sequences packed
    * into 256-token sequences per source ([[Sampling.packIds]] — the
    * coordinates t12 emits, now carrying the actual ids). The source
    * attach is a doc_id equi-join (co-partitionable at scale; a
    * production pipeline carries the stratum through tokenization and
    * skips it). Rows-only by declaration (BPE ids aren't SQL); gated
    * by the PipelineSpec full-sequence invariant and the per-doc
    * slice cross-check against t12's oracle-gated coordinates.
    */
  def p5PackSequences(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    Sampling.packIds(
      TextAnalysis.bpeTokenize(d)
        .join(d.select(col("doc_id"), col("source")), "doc_id"),
      "source", "doc_id", col("ids"), seqTokens = 256)
      .withColumn("ids", concat_ws(" ", col("ids"))) // see t15 note
  }

  def t4DocFingerprint(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.docFingerprint(docs(s, dir))

  val t4Sql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, text, ${duckWords("text")} AS ws FROM documents),
       |sh AS (SELECT doc_id, text, $duckShingles AS shingles FROM toks)
       |SELECT doc_id,
       |  md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS content_hash,
       |  CASE WHEN len(shingles) > 0
       |    THEN list_min(list_transform(shingles, s -> md5(s)))
       |    ELSE NULL END AS min_shingle_hash
       |FROM sh""".stripMargin

  /** Probes = doc_id < 50 (the stand-in benchmark split), corpus = the
    * rest; 5-grams so the tiny synthetic vocabulary yields a few
    * organic collisions beyond the injected exact dups.
    */
  def t5Contamination(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    TextAnalysis.contamination(
      d.filter(col("doc_id") >= 50), d.filter(col("doc_id") < 50), n = 5)
  }

  val t5Sql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, ${duckWords("text")} AS ws FROM documents),
       |gr AS (SELECT doc_id, unnest(${duckShinglesN(5)}) AS g FROM toks),
       |gh AS (SELECT doc_id, ${duckHash60("'0'", "g")} AS h FROM gr),
       |probe AS (SELECT DISTINCT h FROM gh WHERE doc_id < 50)
       |SELECT c.doc_id, CAST(COUNT(DISTINCT c.h) AS BIGINT) AS n_overlapping
       |FROM gh c JOIN probe USING (h)
       |WHERE c.doc_id >= 50 GROUP BY c.doc_id""".stripMargin

  /** d7 — deterministic stratified sampling: downsample the dominant
    * language (en, ~41% of the corpus) to rebalance the training mix.
    * The keep/drop decision is a per-row md5 hash test (see
    * [[Sampling.stratified]]) — scan-local, reproducible, and the
    * DuckDB twin recomputes the identical decision bit-for-bit.
    */
  def d7SampleStratified(s: SparkSession, dir: String): DataFrame =
    Sampling.stratified(
      docs(s, dir).select(col("doc_id"), col("lang"), col("source")),
      stratum = col("lang"), id = col("doc_id"),
      rates = Map("en" -> 0.25), defaultRate = 1.0)

  val d7Sql: String =
    s"""SELECT doc_id, lang, source FROM documents
       |WHERE ${duckKeep("'0'", "doc_id")}
       |  < CASE WHEN lang = 'en' THEN 0.25 ELSE 1.0 END""".stripMargin

  /** d10 — token-budget sampling: at most 600 training tokens per
    * source, selected as the deterministic-hash-ordered prefix. Gated
    * on the BUCKETED distributed-prefix-sum form (the scale path);
    * [[graft.operators.Sampling.tokenBudget]] is the plain-window twin,
    * spec-asserted row-identical.
    */
  def d10SampleBudget(s: SparkSession, dir: String): DataFrame =
    Sampling.tokenBudgetBucketed(
      docs(s, dir).select(col("doc_id"), col("source"),
        size(Dedup.words(col("text"))).cast("long").as("n_tokens")),
      stratum = "source", id = "doc_id", tokens = col("n_tokens"),
      budget = 600, nBuckets = 64)

  val d10Sql: String =
    s"""WITH t AS (
       |  SELECT doc_id, source,
       |    CAST(len(${duckWords("text")}) AS BIGINT) AS n_tokens,
       |    ${duckHash60("'0'", "CAST(doc_id AS VARCHAR)")} AS u
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, source, n_tokens,
       |    CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY u, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS cum_tokens
       |  FROM t)
       |SELECT doc_id, source, n_tokens, cum_tokens FROM c
       |WHERE cum_tokens <= 600""".stripMargin

  /** t12 — concat-and-split sequence packing (see
    * [[graft.operators.Sampling.sequencePack]]): the packing manifest
    * for 256-token training sequences per source, gated on the
    * bucketed distributed-prefix-sum form.
    */
  def t12SequencePack(s: SparkSession, dir: String): DataFrame =
    Sampling.sequencePack(
      docs(s, dir).select(col("doc_id"), col("source"),
        size(Dedup.words(col("text"))).cast("long").as("n_tokens")),
      stratum = "source", id = "doc_id", tokens = col("n_tokens"),
      seqTokens = 256, nBuckets = 64)

  val t12Sql: String =
    s"""WITH t AS (
       |  SELECT doc_id, source,
       |    CAST(len(${duckWords("text")}) AS BIGINT) AS n_tokens,
       |    ${duckHash60("'0'", "CAST(doc_id AS VARCHAR)")} AS u
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, source, n_tokens,
       |    CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY u, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS cum_tokens
       |  FROM t WHERE n_tokens > 0)
       |SELECT doc_id, source, n_tokens, cum_tokens,
       |  CAST(cum_tokens - n_tokens AS BIGINT) AS start_tok,
       |  CAST((cum_tokens - n_tokens) // 256 AS BIGINT) AS first_seq,
       |  CAST((cum_tokens - 1) // 256 AS BIGINT) AS last_seq,
       |  CAST((cum_tokens - n_tokens) % 256 AS BIGINT) AS offset_in_seq
       |FROM c""".stripMargin

  def t6PiiScrub(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.piiScrub(docs(s, dir))

  /** t6's DuckDB twin: the same patterns (common Java-regex/RE2
    * subset), counts over the raw text, redaction in the same order.
    */
  val t6Sql: String = {
    val Seq(email, ip, phone) = TextAnalysis.piiPatterns.map(_._2)
    def esc(p: String) = p.replace("'", "''")
    s"""SELECT doc_id,
       |  CAST(len(regexp_extract_all(text, '${esc(email)}')) AS BIGINT) AS n_email,
       |  CAST(len(regexp_extract_all(text, '${esc(ip)}')) AS BIGINT) AS n_ip,
       |  CAST(len(regexp_extract_all(text, '${esc(phone)}')) AS BIGINT) AS n_phone,
       |  regexp_replace(regexp_replace(regexp_replace(text,
       |    '${esc(email)}', '<EMAIL>', 'g'),
       |    '${esc(ip)}', '<IP>', 'g'),
       |    '${esc(phone)}', '<PHONE>', 'g') AS clean_text
       |FROM documents""".stripMargin
  }

  def t7Repetition(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.repetition(docs(s, dir))

  val t7Sql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, ${duckWords("text")} AS ws FROM documents),
       |gr AS (
       |  SELECT doc_id,
       |    CASE WHEN len(ws) >= 2 THEN
       |      [ws[i] || ' ' || ws[i+1] for i in range(1, len(ws))]
       |    ELSE [] END AS grams
       |  FROM toks),
       |m AS (
       |  SELECT doc_id,
       |    CAST(len(grams) AS BIGINT) AS n_grams,
       |    CAST(len(list_distinct(grams)) AS BIGINT) AS n_distinct,
       |    CASE WHEN len(grams) > 0 THEN
       |      list_max(list_transform(list_distinct(grams),
       |        g -> len(list_filter(grams, x -> x = g))))
       |    ELSE 0 END AS top_count
       |  FROM gr)
       |SELECT doc_id, n_grams, n_distinct,
       |  round(CASE WHEN n_grams > 0
       |    THEN CAST(n_grams - n_distinct AS DOUBLE) / n_grams
       |    ELSE 0.0 END, 6) AS dup_ratio,
       |  round(CASE WHEN n_grams > 0
       |    THEN CAST(top_count AS DOUBLE) / n_grams
       |    ELSE 0.0 END, 6) AS top_gram_ratio
       |FROM m""".stripMargin

  def t8DistinctiveTerms(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.distinctiveTerms(docs(s, dir), k = 5)

  val t8Sql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, source,
       |    unnest(list_distinct(${duckWords("text")})) AS term
       |  FROM documents),
       |st AS (
       |  SELECT source, term, COUNT(*) AS n_docs FROM toks GROUP BY 1, 2),
       |tt AS (
       |  SELECT term, COUNT(*) AS g,
       |    CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
       |  FROM toks GROUP BY 1),
       |ss AS (SELECT source, COUNT(*) AS ds FROM documents GROUP BY 1),
       |scored AS (
       |  SELECT st.source, st.term, st.n_docs, tt.n_sources,
       |    (CAST(st.n_docs AS DOUBLE) / CAST(ss.ds AS DOUBLE)) /
       |      (CAST(tt.g AS DOUBLE) /
       |        CAST((SELECT COUNT(*) FROM documents) AS DOUBLE)) AS lift
       |  FROM st JOIN tt USING (term) JOIN ss USING (source)),
       |rk AS (
       |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY source
       |    ORDER BY lift DESC, term) AS BIGINT) AS rank FROM scored)
       |SELECT source, term, n_docs, n_sources, round(lift, 6) AS lift, rank
       |FROM rk WHERE rank <= 5""".stripMargin

  /** t9 — context-window chunking: 64-token windows, stride 48 (16
    * tokens of overlap), the prep step that turns documents into
    * training-sequence-sized pieces. Zero-shuffle scan fan-out; see
    * [[TextAnalysis.chunk]].
    */
  def t9Chunking(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.chunk(docs(s, dir), chunkTokens = 64, stride = 48)

  val t9Sql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, ${duckWords("text")} AS ws FROM documents),
       |ex AS (
       |  SELECT doc_id, ws, unnest(range(0, len(ws), 48)) AS start
       |  FROM toks WHERE len(ws) > 0)
       |SELECT doc_id,
       |  CAST(start // 48 AS BIGINT) AS chunk_idx,
       |  array_to_string(list_slice(ws, start + 1, start + 64), ' ')
       |    AS chunk_text,
       |  CAST(least(64, len(ws) - start) AS BIGINT) AS n_chunk_tokens
       |FROM ex
       |WHERE start = 0 OR start + 16 < len(ws)""".stripMargin

  /** t10 — unigram-LM surprisal quality score; see
    * [[TextAnalysis.unigramSurprisal]] for the scale argument (term
    * stats through the term-grain window, never a vocabulary
    * broadcast).
    */
  def t10UnigramSurprisal(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.unigramSurprisal(docs(s, dir))

  val t10Sql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(${duckWords("text")}) AS term
       |  FROM documents),
       |tf AS (
       |  SELECT doc_id, term,
       |    COUNT(*) OVER (PARTITION BY term) AS tf FROM toks)
       |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
       |  round(AVG(-ln(CAST(tf AS DOUBLE) /
       |    (SELECT COUNT(*) FROM toks))), 6) AS surprisal
       |FROM tf GROUP BY doc_id""".stripMargin

  /** t14 — bigram-LM surprisal with add-one smoothing; see
    * [[TextAnalysis.bigramSurprisal]] for the one-exchange window
    * stack (hash(w1) clusters both frequency windows) and the CCNet
    * framing. The oracle forms bigrams by zipping the word list with
    * its own tail (two same-length unnests zip row-wise in DuckDB;
    * `w[:len-1]`/`w[2:]` are both empty on 0/1-token docs, which
    * therefore drop out on both engines).
    */
  def t14BigramSurprisal(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.bigramSurprisal(docs(s, dir))

  val t14Sql: String =
    s"""WITH ws AS (
       |  SELECT doc_id, ${duckWords("text")} AS w FROM documents),
       |big AS (
       |  SELECT doc_id,
       |    unnest(w[:len(w)-1]) AS w1, unnest(w[2:]) AS w2
       |  FROM ws),
       |tot AS (
       |  SELECT COUNT(DISTINCT term) AS v
       |  FROM (SELECT unnest(w) AS term FROM ws)),
       |cc AS (
       |  SELECT doc_id,
       |    COUNT(*) OVER (PARTITION BY w1) AS c1,
       |    COUNT(*) OVER (PARTITION BY w1, w2) AS c12
       |  FROM big)
       |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       |  round(AVG(-ln((CAST(c12 AS DOUBLE) + 1.0) /
       |    (CAST(c1 AS DOUBLE) + (SELECT v FROM tot)))), 6) AS surprisal
       |FROM cc GROUP BY doc_id""".stripMargin

  /** t11 — repeated-passage mining at 8 words / df ≥ 2; see
    * [[TextAnalysis.dupPassages]] for the hash-first/text-later scale
    * shape (gram text only re-enters for the surviving hashes).
    */
  def t11DupPassages(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.dupPassages(docs(s, dir), n = 8, minDocs = 2,
      maxPassages = 10000)

  val t11Sql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, ${duckWords("text")} AS ws FROM documents),
       |gr AS (SELECT doc_id, unnest(${duckShinglesN(8)}) AS g FROM toks),
       |gh AS (SELECT doc_id, g, ${duckHash60("'0'", "g")} AS h FROM gr),
       |sel AS (
       |  SELECT h, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    min(doc_id) AS example_doc_id
       |  FROM gh GROUP BY 1
       |  HAVING COUNT(*) >= 2
       |  ORDER BY COUNT(*) DESC, h LIMIT 10000)
       |SELECT min(gh.g) AS passage, sel.n_docs, sel.example_doc_id
       |FROM sel JOIN gh
       |  ON gh.h = sel.h AND gh.doc_id = sel.example_doc_id
       |GROUP BY sel.h, sel.n_docs, sel.example_doc_id""".stripMargin

  /** d11 — repeated-passage scrub (t11's application step; see
    * [[graft.operators.TextAnalysis.passageScrub]]). The oracle
    * recomputes t11's passage list and applies the identical sorted
    * fold via `list_reduce`, so the clean-text hash gates the whole
    * mine→scrub pipeline end-to-end.
    */
  def d11PassageScrub(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.passageScrub(docs(s, dir), n = 8, minDocs = 2,
      maxPassages = 10000)

  val d11Sql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, ${duckWords("text")} AS ws FROM documents),
       |gr AS (SELECT doc_id, unnest(${duckShinglesN(8)}) AS g FROM toks),
       |gh AS (SELECT doc_id, g, ${duckHash60("'0'", "g")} AS h FROM gr),
       |sel AS (
       |  SELECT h, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    min(doc_id) AS example_doc_id
       |  FROM gh GROUP BY 1
       |  HAVING COUNT(*) >= 2
       |  ORDER BY COUNT(*) DESC, h LIMIT 10000),
       |passh AS (
       |  SELECT sel.h AS h, min(gh.g) AS passage
       |  FROM sel JOIN gh
       |    ON gh.h = sel.h AND gh.doc_id = sel.example_doc_id
       |  GROUP BY sel.h, sel.n_docs, sel.example_doc_id),
       |hits AS (
       |  SELECT gh.doc_id, list_sort(list(DISTINCT pp.passage)) AS ps
       |  FROM gh JOIN passh pp ON gh.h = pp.h
       |  GROUP BY gh.doc_id),
       |scrubbed AS (
       |  SELECT d.doc_id,
       |    trim(regexp_replace(lower(d.text), '\\s+', ' ', 'g')) AS norm,
       |    list_reduce(list_prepend(
       |        trim(regexp_replace(lower(d.text), '\\s+', ' ', 'g')),
       |        coalesce(h.ps, [])),
       |      (acc, pat) -> replace(acc, pat, ' ')) AS clean
       |  FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id)
       |SELECT doc_id,
       |  CAST(length(norm) - length(clean) AS BIGINT) AS n_chars_removed,
       |  md5(clean) AS clean_hash
       |FROM scrubbed""".stripMargin

  /** d14 — exact duplicated-substring runs ≥ 12 tokens at 8-token
    * anchors, df cap 20 ([[Dedup.dupSpans]] — the Lee et al. 2022
    * suffix-grain dedup, relationally). The oracle rebuilds the
    * identical anchor → df-cap → diagonal-islands pipeline (same
    * 60-bit gram hashes, same cap), so positions and run lengths are
    * hash-gated exactly.
    */
  def d14DupSpans(s: SparkSession, dir: String): DataFrame =
    Dedup.dupSpans(docs(s, dir), k = 8, minRun = 12, maxDf = 20)

  val d14Sql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, ${duckWords("text")} AS ws FROM documents),
       |anch AS (
       |  SELECT doc_id, i - 1 AS pos,
       |    ${duckHash60("'0'", "array_to_string(ws[i:i+7], ' ')")} AS h
       |  FROM toks, LATERAL unnest(range(1, len(ws) - 6)) t(i)),
       |sel AS (
       |  SELECT h FROM anch GROUP BY h
       |  HAVING COUNT(DISTINCT doc_id) BETWEEN 2 AND 20),
       |m AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pa,
       |    b.pos AS pb
       |  FROM anch a JOIN sel USING (h) JOIN anch b USING (h)
       |  WHERE a.doc_id < b.doc_id),
       |isl AS (
       |  SELECT *, pa - pb AS diag,
       |    pa - ROW_NUMBER() OVER (PARTITION BY doc_a, doc_b, pa - pb
       |      ORDER BY pa) AS isl
       |  FROM m),
       |runs AS (
       |  SELECT doc_a, doc_b, CAST(MIN(pa) AS BIGINT) AS start_a,
       |    CAST(MIN(pb) AS BIGINT) AS start_b,
       |    CAST(MAX(pa) - MIN(pa) + 8 AS BIGINT) AS run_len
       |  FROM isl GROUP BY doc_a, doc_b, diag, isl)
       |SELECT doc_a, doc_b, start_a, start_b, run_len
       |FROM runs WHERE run_len >= 12""".stripMargin

  /** d14b — the exact-substring scrub ([[Dedup.spanScrub]], d14's
    * application step): spans delete from the later doc of each pair
    * (one copy provably survives), per-doc interval unions applied
    * scan-locally. The oracle rebuilds d14's full span pipeline, the
    * identical interval-union islands, and a per-token anti-join
    * apply — the clean-text hash gates mine → merge → scrub
    * end-to-end (the d11 gating pattern).
    */
  def d14bSpanScrub(s: SparkSession, dir: String): DataFrame =
    Dedup.spanScrub(docs(s, dir), k = 8, minRun = 12, maxDf = 20)

  val d14bSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, ${duckWords("text")} AS ws FROM documents),
       |anch AS (
       |  SELECT doc_id, i - 1 AS pos,
       |    ${duckHash60("'0'", "array_to_string(ws[i:i+7], ' ')")} AS h
       |  FROM toks, LATERAL unnest(range(1, len(ws) - 6)) t(i)),
       |sel AS (
       |  SELECT h FROM anch GROUP BY h
       |  HAVING COUNT(DISTINCT doc_id) BETWEEN 2 AND 20),
       |m AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pa,
       |    b.pos AS pb
       |  FROM anch a JOIN sel USING (h) JOIN anch b USING (h)
       |  WHERE a.doc_id < b.doc_id),
       |islq AS (
       |  SELECT *, pa - pb AS diag,
       |    pa - ROW_NUMBER() OVER (PARTITION BY doc_a, doc_b, pa - pb
       |      ORDER BY pa) AS isl
       |  FROM m),
       |runs AS (
       |  SELECT doc_a, doc_b, MIN(pa) AS start_a, MIN(pb) AS start_b,
       |    MAX(pa) - MIN(pa) + 8 AS run_len
       |  FROM islq GROUP BY doc_a, doc_b, diag, isl
       |  HAVING MAX(pa) - MIN(pa) + 8 >= 12),
       |ints AS (
       |  SELECT doc_b AS doc_id, start_b AS s, start_b + run_len AS e
       |  FROM runs),
       |ordi AS (
       |  SELECT *, max(e) OVER (PARTITION BY doc_id ORDER BY s, e
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
       |  FROM ints),
       |isli AS (
       |  SELECT *, SUM(CASE WHEN pmax IS NULL OR s > pmax THEN 1 ELSE 0
       |    END) OVER (PARTITION BY doc_id ORDER BY s, e) AS g
       |  FROM ordi),
       |miv AS (SELECT doc_id, MIN(s) AS s, MAX(e) AS e FROM isli
       |  GROUP BY doc_id, g),
       |tok AS (
       |  SELECT doc_id, i - 1 AS pos, ws[i] AS w
       |  FROM toks, LATERAL unnest(range(1, len(ws) + 1)) t(i)),
       |kept AS (
       |  SELECT t.doc_id, t.pos, t.w FROM tok t LEFT JOIN miv v
       |    ON t.doc_id = v.doc_id AND t.pos >= v.s AND t.pos < v.e
       |  WHERE v.doc_id IS NULL),
       |ka AS (
       |  SELECT doc_id, COUNT(*) AS n_kept,
       |    md5(string_agg(w, ' ' ORDER BY pos)) AS h
       |  FROM kept GROUP BY doc_id)
       |SELECT t.doc_id,
       |  CAST(len(t.ws) - coalesce(ka.n_kept, 0) AS BIGINT)
       |    AS n_tokens_removed,
       |  coalesce(ka.h, md5('')) AS clean_hash
       |FROM toks t LEFT JOIN ka ON t.doc_id = ka.doc_id""".stripMargin

  // ===========================================================
  // m-block: multimodal columns
  // ===========================================================

  def m1BinaryMeta(s: SparkSession, dir: String): DataFrame =
    Multimodal.binaryMeta(docs(s, dir))

  val m1Sql: String =
    """SELECT doc_id, source AS media_type,
      |  CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
      |  md5(text) AS content_hash,
      |  lower(hex(substr(text, 1, 8))) AS head_hex
      |FROM documents""".stripMargin

  def m2FrameSample(s: SparkSession, dir: String): DataFrame =
    Multimodal.frameSample(docs(s, dir), frameBytes = 64, stride = 4)

  /** m2's DuckDB twin: the stepped frame sequence via range(0, n, 4),
    * the frame slice via VARCHAR substring — this DuckDB build has no
    * BLOB substring, but the documents corpus is pure ASCII (checked:
    * octet_length = length for every row), where character slicing IS
    * byte slicing and md5(VARCHAR) hashes the same bytes Spark's
    * binary md5 does. Chunk geometry (ceil, stride, short tail frame)
    * matches Multimodal.frameSample exactly.
    */
  val m2Sql: String =
    """WITH f AS (
      |  SELECT doc_id, text,
      |    CAST(ceil(length(text) / 64.0) AS INT) AS n_frames
      |  FROM documents),
      |ex AS (
      |  SELECT doc_id, text, unnest(range(0, n_frames, 4)) AS frame_idx
      |  FROM f WHERE n_frames > 0)
      |SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
      |  CAST(length(substring(text, frame_idx * 64 + 1, 64)) AS BIGINT)
      |    AS frame_bytes,
      |  md5(substring(text, frame_idx * 64 + 1, 64)) AS frame_feature
      |FROM ex""".stripMargin

  /** The per-doc WAV synth m2b and m4 share (doc bytes → PCM payload,
    * one Frame per doc): < 2 chars yields zero s16 samples; both
    * engines drop those docs — char-count (`length`), matching the
    * twins' char-based gate, so a non-ASCII corpus diverges loudly in
    * the require below rather than silently disagreeing on which docs
    * pass (the char-position arithmetic of the DuckDB twins is only
    * byte-position arithmetic on ASCII; refuse anything else instead
    * of letting getBytes substitute '?' and skew features).
    */
  private def wavFrames(s: SparkSession, dir: String)
      : org.apache.spark.sql.Dataset[Multimodal.Frame] = {
    import s.implicits._
    import java.nio.{ByteBuffer, ByteOrder}
    docs(s, dir)
      .select(col("doc_id"), col("text"))
      .filter(length(col("text")) >= 2)
      .as[(Long, String)]
      .map { case (id, text) =>
        require(text.forall(_ < 128),
          s"WAV synth requires an ASCII corpus; doc $id has non-ASCII text")
        val b = text.getBytes("US-ASCII")
        val n = b.length / 2
        val pcm = new Array[Short](n)
        val bb = ByteBuffer.wrap(b, 0, n * 2).order(ByteOrder.LITTLE_ENDIAN)
        var i = 0
        while (i < n) { pcm(i) = bb.getShort(i * 2); i += 1 }
        Multimodal.Frame(id, 0L, Codecs.wavPcm16Encode(pcm))
      }
  }

  /** m2b — REAL decode through the plug-point: each document's bytes
    * become the PCM payload of a synthesized WAV ([[wavFrames]] — the
    * corpus ships no media, so the media is made from the corpus,
    * deterministically), and [[Codecs.wavPcm16]] decodes it back
    * inside the partition via [[Multimodal.decodeFrames]] — the same
    * mapPartitions contract a JNI/`mapInPandas` codec plugs into.
    * Features are exact integers (sample count, Σk², max |k| over the
    * s16 samples) so the DuckDB twin hash-matches with no
    * float-summation-order hazard. Zero shuffles: synth → encode →
    * decode → reduce all happen in the scan partition, one output row
    * per document.
    */
  def m2bFrameDecode(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Multimodal.decodeFrames(wavFrames(s, dir))(Codecs.wavPcm16)
      .map { f =>
        var energy = 0L
        var peak = 0L
        f.feature.foreach { x =>
          // decoded float is k/32768 with k exactly representable —
          // recover the integer sample for exact cross-engine math
          val k = math.round(x.toDouble * 32768.0)
          energy += k * k
          if (math.abs(k) > peak) peak = math.abs(k)
        }
        (f.doc_id, f.feature.length.toLong, energy, peak)
      }
      .toDF("doc_id", "n_samples", "energy", "peak_abs")
  }

  /** m2b's DuckDB twin: the s16le samples re-derived arithmetically
    * from character codes (ASCII corpus: char position = byte
    * position, `ascii()` = byte value; lo + 256*hi < 2^15 so the
    * sign bit never sets and max(k) = max |k|).
    */
  val m2bSql: String =
    """WITH s AS (
      |  SELECT doc_id, text, unnest(range(0, length(text) // 2)) AS i
      |  FROM documents WHERE length(text) >= 2),
      |v AS (
      |  SELECT doc_id,
      |    ascii(substring(text, CAST(i * 2 + 1 AS INT), 1))
      |    + 256 * ascii(substring(text, CAST(i * 2 + 2 AS INT), 1)) AS k
      |  FROM s)
      |SELECT doc_id,
      |  CAST(count(*) AS BIGINT) AS n_samples,
      |  CAST(sum(k * k) AS BIGINT) AS energy,
      |  CAST(max(k) AS BIGINT) AS peak_abs
      |FROM v GROUP BY doc_id""".stripMargin

  /** m3 — the image-side twin of m2b: each document's bytes become the
    * RGB pixels of a synthesized 24-bit BMP (width 4 → a 12-byte row
    * stride with no padding, height = ⌊bytes/12⌋), decoded back inside
    * the partition by [[Codecs.bmpChannels]] through the same
    * `decodeFrames` plug-point. The decode crosses the format's
    * bottom-up row order, so the round-trip proves the full pixel
    * geometry, not just a byte copy. Features are exact integer
    * channel sums — hash-parity safe. Zero shuffles.
    */
  def m3ImageFeatures(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val frames = docs(s, dir)
      .select(col("doc_id"), col("text"))
      .filter(length(col("text")) >= 12)
      .as[(Long, String)]
      .map { case (id, text) =>
        require(text.forall(_ < 128),
          s"m3 requires an ASCII corpus; doc $id has non-ASCII text")
        val b = text.getBytes("US-ASCII")
        val h = b.length / 12
        val px = new Array[Int](4 * h)
        var i = 0
        while (i < px.length) {
          px(i) = ((b(i * 3) & 0xff) << 16) | ((b(i * 3 + 1) & 0xff) << 8) |
            (b(i * 3 + 2) & 0xff)
          i += 1
        }
        Multimodal.Frame(id, 0L, Codecs.bmp24Encode(4, h, px))
      }
    Multimodal.decodeFrames(frames)(Codecs.bmpChannels)
      .map { f =>
        var sr = 0L
        var sg = 0L
        var sb = 0L
        var i = 0
        while (i < f.feature.length) {
          sr += f.feature(i).toLong
          sg += f.feature(i + 1).toLong
          sb += f.feature(i + 2).toLong
          i += 3
        }
        (f.doc_id, (f.feature.length / 3).toLong, sr, sg, sb)
      }
      .toDF("doc_id", "n_pixels", "sum_r", "sum_g", "sum_b")
  }

  /** m3's DuckDB twin: channel values re-derived from character codes
    * (same ASCII-corpus contract as m2b). */
  val m3Sql: String =
    """WITH s AS (
      |  SELECT doc_id, text,
      |    unnest(range(0, (length(text) // 12) * 4)) AS i
      |  FROM documents WHERE length(text) >= 12),
      |v AS (
      |  SELECT doc_id,
      |    ascii(substring(text, CAST(i * 3 + 1 AS INT), 1)) AS r,
      |    ascii(substring(text, CAST(i * 3 + 2 AS INT), 1)) AS g,
      |    ascii(substring(text, CAST(i * 3 + 3 AS INT), 1)) AS b
      |  FROM s)
      |SELECT doc_id,
      |  CAST(count(*) AS BIGINT) AS n_pixels,
      |  CAST(sum(r) AS BIGINT) AS sum_r,
      |  CAST(sum(g) AS BIGINT) AS sum_g,
      |  CAST(sum(b) AS BIGINT) AS sum_b
      |FROM v GROUP BY doc_id""".stripMargin

  /** m8 — image PERCEPTUAL-hash dedup through the REAL codec path:
    * each document synthesizes a 4×h BMP (m3's ASCII-pixel rule),
    * round-trips [[Codecs.bmp24Encode]]/[[Codecs.bmpChannels]] inside
    * the partition, and the decoded pixels reduce to a 60-bit dHash
    * (adjacent-GRAY comparisons over the first 61 pixels — the
    * difference hash of Krawetz's aHash/dHash family: robust to
    * uniform brightness shifts, integer-exact here because gray =
    * (299r + 587g + 114b) / 1000 floor-divides decoded ints). The
    * dedup verdict is d1's window pattern on the hash — one shuffle,
    * image bytes never leave the scan. The oracle re-derives gray
    * values from character codes (the m2b/m3 ASCII contract), builds
    * the identical bit pattern with exact shifts, so the hash gates
    * decode plumbing + hash arithmetic end-to-end. 60 bits, not 64:
    * the sum of distinct powers stays under 2^61 — BIGINT-safe in
    * both engines (the house 60-bit convention).
    */
  def m8ImageDhash(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val frames = docs(s, dir)
      .select(col("doc_id"), col("text"))
      .filter(length(col("text")) >= 192) // 4·(192/12) = 64 ≥ 61 pixels
      .as[(Long, String)]
      .map { case (id, text) =>
        require(text.forall(_ < 128),
          s"m8 requires an ASCII corpus; doc $id has non-ASCII text")
        val b = text.getBytes("US-ASCII")
        val h = b.length / 12
        val px = new Array[Int](4 * h)
        var i = 0
        while (i < px.length) {
          px(i) = ((b(i * 3) & 0xff) << 16) | ((b(i * 3 + 1) & 0xff) << 8) |
            (b(i * 3 + 2) & 0xff)
          i += 1
        }
        Multimodal.Frame(id, 0L, Codecs.bmp24Encode(4, h, px))
      }
    import org.apache.spark.sql.expressions.Window
    Multimodal.imageDhash(frames)(Codecs.bmpChannels)
      .withColumn("dup_of",
        min(col("doc_id")).over(Window.partitionBy(col("dhash"))))
  }

  val m8Sql: String =
    """WITH s AS (
      |  SELECT doc_id, text FROM documents WHERE length(text) >= 192),
      |g AS (
      |  SELECT doc_id, i,
      |    (ascii(substring(text, CAST(i * 3 + 1 AS INT), 1)) * 299 +
      |     ascii(substring(text, CAST(i * 3 + 2 AS INT), 1)) * 587 +
      |     ascii(substring(text, CAST(i * 3 + 3 AS INT), 1)) * 114)
      |      // 1000 AS gray
      |  FROM s, LATERAL unnest(range(0, 61)) t(i)),
      |h AS (
      |  SELECT a.doc_id,
      |    SUM(CASE WHEN a.gray > b.gray
      |      THEN (1::BIGINT << CAST(a.i AS INT)) ELSE 0 END) AS dhash
      |  FROM g a JOIN g b ON a.doc_id = b.doc_id AND b.i = a.i + 1
      |  WHERE a.i < 60 GROUP BY a.doc_id)
      |SELECT s.doc_id,
      |  CAST((length(s.text) // 12) * 4 AS BIGINT) AS n_pixels,
      |  CAST(h.dhash AS BIGINT) AS dhash,
      |  MIN(s.doc_id) OVER (PARTITION BY h.dhash) AS dup_of
      |FROM s JOIN h ON s.doc_id = h.doc_id""".stripMargin

  /** m5 — the first LOSSY decoder at the plug-point (r11): each
    * document's bytes become the gray pixels of a synthesized
    * width-8 JPEG ([[Codecs.jpegGrayEncode]], pure-JDK imageio),
    * decoded back inside the partition by
    * [[Codecs.jpegGrayWithDims]] through the same `decodeFrames`
    * contract as m2b/m3. Lossy codec ⇒ decoded pixel VALUES are
    * near, not equal, so the oracle gates on decode-path INVARIANTS —
    * the decoder-reported dimensions and pixel count must equal the
    * synthesis rule (wrong plumbing, truncated payloads, or geometry
    * bugs all fail the hash) — while pixel fidelity (bounded error,
    * bit-determinism) is CodecsSpec's round-trip. Zero shuffles.
    */
  def m5JpegDecode(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val frames = docs(s, dir)
      .select(col("doc_id"), col("text"))
      .filter(length(col("text")) >= 8)
      .as[(Long, String)]
      .map { case (id, text) =>
        require(text.forall(_ < 128),
          s"m5 requires an ASCII corpus; doc $id has non-ASCII text")
        val b = text.getBytes("US-ASCII")
        // JPEG caps each dimension at 65,535: a ≥512 KiB doc would
        // otherwise synthesize an unencodable frame — clamp the frame
        // to the codec bound (the twin SQL computes the same LEAST)
        val h = math.min(b.length / 8, 65535)
        val px = new Array[Int](8 * h)
        var i = 0
        while (i < px.length) { px(i) = b(i) & 0xff; i += 1 }
        Multimodal.Frame(id, 0L, Codecs.jpegGrayEncode(8, h, px))
      }
    Multimodal.decodeFrames(frames)(Codecs.jpegGrayWithDims)
      .map(f => (f.doc_id, f.feature(0).toLong, f.feature(1).toLong,
        (f.feature.length - 2).toLong))
      .toDF("doc_id", "width", "height", "n_pixels")
  }

  /** m5's DuckDB twin: the synthesis rule's geometry — what the
    * decoder must REPORT back through a real JPEG encode+decode. */
  val m5Sql: String =
    """SELECT doc_id,
      |  CAST(8 AS BIGINT) AS width,
      |  CAST(LEAST(length(text) // 8, 65535) AS BIGINT) AS height,
      |  CAST(8 * LEAST(length(text) // 8, 65535) AS BIGINT) AS n_pixels
      |FROM documents WHERE length(text) >= 8""".stripMargin

  /** m6 — the first COMPRESSED LOSSLESS decoder at the plug-point
    * (r12): each document's bytes become the gray pixels of a
    * synthesized width-8 PNG ([[Codecs.pngGrayEncode]] — zlib +
    * per-row predictive filters), decoded back inside the partition
    * by the HAND-ROLLED [[Codecs.pngGrayWithDims]] (chunk walk, CRC,
    * inflate, the five unfilters) through the same `decodeFrames`
    * contract as m2b/m3/m5. The encode filter varies with the doc
    * (`doc_id mod 5`), so all five filter paths sit inside this one
    * oracle-gated query — and because PNG is lossless the oracle
    * gates the decoded pixel VALUES (count/sum/min/max recomputed
    * from character codes), not just m5's geometry: any bit error
    * anywhere in deflate→inflate→unfilter fails the hash. Zero
    * shuffles.
    */
  def m6PngDecode(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val frames = docs(s, dir)
      .select(col("doc_id"), col("text"))
      .filter(length(col("text")) >= 8)
      .as[(Long, String)]
      .map { case (id, text) =>
        require(text.forall(_ < 128),
          s"m6 requires an ASCII corpus; doc $id has non-ASCII text")
        val b = text.getBytes("US-ASCII")
        val h = b.length / 8
        val px = new Array[Int](8 * h)
        var i = 0
        while (i < px.length) { px(i) = b(i) & 0xff; i += 1 }
        Multimodal.Frame(id, 0L,
          Codecs.pngGrayEncode(8, h, px, filterType = (id % 5).toInt))
      }
    Multimodal.decodeFrames(frames)(Codecs.pngGrayWithDims)
      .map { f =>
        val px = f.feature.drop(2).map(_.toLong)
        (f.doc_id, f.feature(0).toLong, f.feature(1).toLong,
          px.length.toLong, px.sum, px.min, px.max)
      }
      .toDF("doc_id", "width", "height", "n_pixels", "sum_px",
        "min_px", "max_px")
  }

  /** m6's DuckDB twin: pixel statistics re-derived from character
    * codes — PNG is lossless, so unlike m5 the VALUES gate, and a
    * decode-path bit error anywhere fails the hash. */
  val m6Sql: String =
    """WITH s AS (
      |  SELECT doc_id, text, (length(text) // 8) * 8 AS n
      |  FROM documents WHERE length(text) >= 8),
      |v AS (
      |  SELECT doc_id, n,
      |    ascii(substring(text, CAST(i + 1 AS INT), 1)) AS px
      |  FROM (SELECT doc_id, n, text, unnest(range(0, n)) AS i FROM s))
      |SELECT doc_id,
      |  CAST(8 AS BIGINT) AS width,
      |  CAST(max(n) // 8 AS BIGINT) AS height,
      |  CAST(count(*) AS BIGINT) AS n_pixels,
      |  CAST(sum(px) AS BIGINT) AS sum_px,
      |  CAST(min(px) AS BIGINT) AS min_px,
      |  CAST(max(px) AS BIGINT) AS max_px
      |FROM v GROUP BY doc_id""".stripMargin

  /** m9 — the DICTIONARY-codec class at the plug-point (r12): each
    * document's bytes become the palette indices of a synthesized
    * width-8 grayscale GIF ([[Codecs.gifGrayEncode]] — REAL LZW,
    * variable 9→12-bit codes, mid-stream CLEAR resets on long docs),
    * decoded back inside the partition by the hand-rolled
    * [[Codecs.gifGrayWithDims]] through the same `decodeFrames`
    * contract as m2b/m3/m5/m6. GIF is lossless, so the oracle gates
    * the decoded VALUES (count/sum/min/max from character codes) —
    * any LZW bit-width desync or dictionary error anywhere fails the
    * hash — and CodecsSpec additionally cross-validates both codec
    * sides against the JDK's independent GIF implementation
    * (including its interlaced writer output). Zero shuffles.
    */
  def m9GifDecode(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val frames = docs(s, dir)
      .select(col("doc_id"), col("text"))
      .filter(length(col("text")) >= 8)
      .as[(Long, String)]
      .map { case (id, text) =>
        require(text.forall(_ < 128),
          s"m9 requires an ASCII corpus; doc $id has non-ASCII text")
        val b = text.getBytes("US-ASCII")
        val h = b.length / 8
        val px = new Array[Int](8 * h)
        var i = 0
        while (i < px.length) { px(i) = b(i) & 0xff; i += 1 }
        Multimodal.Frame(id, 0L, Codecs.gifGrayEncode(8, h, px))
      }
    Multimodal.decodeFrames(frames)(Codecs.gifGrayWithDims)
      .map { f =>
        val px = f.feature.drop(2).map(_.toLong)
        (f.doc_id, f.feature(0).toLong, f.feature(1).toLong,
          px.length.toLong, px.sum, px.min, px.max)
      }
      .toDF("doc_id", "width", "height", "n_pixels", "sum_px",
        "min_px", "max_px")
  }

  /** m9's DuckDB twin — identical to m6's (both lossless, same
    * synthesis rule): pixel statistics from character codes. */
  val m9Sql: String = m6Sql

  /** m7 — windowed SPECTRUM over the decoded audio: per 64-sample
    * window, signal power in six square-wave frequency bands — the
    * Rademacher basis, i.e. the single-bit rows of the 64-point
    * Walsh–Hadamard transform, at 2^b/64 cycles-per-window for
    * b = 0..5 — plus the dominant band. The analysis a VAD / music-
    * speech discriminator runs before sampling training audio.
    *
    * Why square waves and not a cosine DFT: the coefficient is then
    * `Σ ±k` over EXACT integer samples — associative, so Spark's
    * partition-parallel sum and DuckDB's sequential sum agree
    * bit-for-bit and the oracle hash-gates fully (the m-section
    * discipline, see m2b/m4). A float DFT's non-associative
    * accumulation would differ per engine in the low bits and the
    * whole row would ride on a rounding convention. Same
    * decode-through-the-plug-point shape as m4 ([[wavFrames]] →
    * [[Codecs.wavPcm16]] inside the scan partition): zero shuffles,
    * window math in one pass over each doc's samples.
    *
    * Band sign for window-local index j and mask h is
    * (−1)^popcount(j AND h); power is the squared coefficient —
    * exact: |Σ ±k| ≤ 64·32767 so the square < 2^43. Dominant band
    * prefers the lowest mask on ties (the argmax cascade is
    * tie-stable in both engines).
    */
  def m7Spectrogram(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val masks = Array(1, 2, 4, 8, 16, 32)
    Multimodal.decodeFrames(wavFrames(s, dir))(Codecs.wavPcm16)
      .flatMap { f =>
        val ks = new Array[Long](f.feature.length)
        var i = 0
        while (i < ks.length) {
          ks(i) = math.round(f.feature(i).toDouble * 32768.0)
          i += 1
        }
        (0 until (ks.length + 63) / 64).map { w =>
          val lo = w * 64
          val hi = math.min(ks.length, lo + 64)
          val sums = new Array[Long](masks.length)
          var j = lo
          while (j < hi) {
            val jj = j - lo
            var m = 0
            while (m < masks.length) {
              if ((Integer.bitCount(jj & masks(m)) & 1) == 1)
                sums(m) -= ks(j)
              else sums(m) += ks(j)
              m += 1
            }
            j += 1
          }
          val pw = sums.map(c => c * c)
          var dom = 0
          var m = 1
          while (m < pw.length) { if (pw(m) > pw(dom)) dom = m; m += 1 }
          (f.doc_id, w.toLong, (hi - lo).toLong,
            pw(0), pw(1), pw(2), pw(3), pw(4), pw(5),
            masks(dom).toLong)
        }
      }
      .toDF("doc_id", "win_idx", "n_samples", "p1", "p2", "p4", "p8",
        "p16", "p32", "dom_mask")
  }

  /** m7's DuckDB twin: samples re-derived from character codes (the
    * m2b ASCII contract), the band sign from `bit_count` parity on the
    * window-local index, powers squared in HUGEINT then narrowed, and
    * the dominant band via the first-max CASE cascade (if p_a fails
    * its cascade row, some later band exceeds it, so the first band
    * that dominates all LATER bands is the global argmax — lowest
    * mask wins ties, matching the Spark side's strict-> scan).
    */
  val m7Sql: String = {
    val masks = Seq(1, 2, 4, 8, 16, 32)
    val coefs = masks.map(h =>
      s"SUM(CASE WHEN bit_count(j & $h) % 2 = 1 THEN -k ELSE k END) AS c$h")
      .mkString(",\n      |    ")
    val pows = masks.map(h => s"CAST(c$h * c$h AS BIGINT) AS p$h")
      .mkString(",\n      |    ")
    val dom = masks.init.zipWithIndex.map { case (h, idx) =>
      val later = masks.drop(idx + 1).map(o => s"p$h >= p$o").mkString(" AND ")
      s"WHEN $later THEN $h"
    }.mkString("\n      |    ")
    s"""WITH s AS (
      |  SELECT doc_id, text, unnest(range(0, length(text) // 2)) AS i
      |  FROM documents WHERE length(text) >= 2),
      |v AS (
      |  SELECT doc_id, i // 64 AS win_idx, i % 64 AS j,
      |    ascii(substring(text, CAST(i * 2 + 1 AS INT), 1))
      |    + 256 * ascii(substring(text, CAST(i * 2 + 2 AS INT), 1)) AS k
      |  FROM s),
      |c AS (
      |  SELECT doc_id, win_idx, count(*) AS n_samples,
      |    $coefs
      |  FROM v GROUP BY doc_id, win_idx),
      |p AS (
      |  SELECT doc_id, CAST(win_idx AS BIGINT) AS win_idx,
      |    CAST(n_samples AS BIGINT) AS n_samples,
      |    $pows
      |  FROM c)
      |SELECT doc_id, win_idx, n_samples, p1, p2, p4, p8, p16, p32,
      |  CAST(CASE
      |    $dom
      |    ELSE 32 END AS BIGINT) AS dom_mask
      |FROM p""".stripMargin
  }

  // ===========================================================
  // p-block: composed end-to-end pipeline
  // ===========================================================

  /** p1 — the whole preprocess (language gate → quality gate → exact
    * dedup → stratified rebalance) as one query; see
    * [[graft.operators.Preprocess.select]] for the one-scan/one-shuffle
    * design. Thresholds picked for non-trivial selectivity on the
    * testdata corpus (~91% pass the language gate, ~87% the stopword
    * gate, half of `en` kept by the mix rebalance).
    */
  def p1Preprocess(s: SparkSession, dir: String): DataFrame =
    graft.operators.Preprocess.select(docs(s, dir))

  /** p1's DuckDB twin: t1/t2/d1/d7's oracle fragments composed in the
    * same stage order — gates in a CTE BEFORE the dedup window, so
    * `n_dups` counts surviving copies only, and d7's deterministic
    * md5 keep test (seed 0) applied to the canonical survivors.
    */
  val p1Sql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, lang, text, ${duckWords("text")} AS ws
       |  FROM documents),
       |f AS (
       |  SELECT doc_id, lang,
       |    md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS content_hash,
       |    ${duckStopHits("en")} AS en_hits,
       |    ${duckStopHits("de")} AS de_hits,
       |    ${duckStopHits("es")} AS es_hits,
       |    ${duckStopHits("fr")} AS fr_hits,
       |    CAST(length(text) AS BIGINT) AS n_chars,
       |    CAST(len(ws) AS BIGINT) AS n_words,
       |    CAST(length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g')) AS BIGINT) AS n_punct,
       |    CAST(len(list_filter(ws, w -> list_contains(${duckAllStops}, w))) AS BIGINT) AS stop_hits,
       |    CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]')) AS BIGINT) AS bpe_tokens
       |  FROM toks),
       |l AS (
       |  SELECT *,
       |    CASE WHEN en_hits + de_hits + es_hits + fr_hits = 0 THEN 'und'
       |         WHEN en_hits >= de_hits AND en_hits >= es_hits AND en_hits >= fr_hits THEN 'en'
       |         WHEN de_hits >= es_hits AND de_hits >= fr_hits THEN 'de'
       |         WHEN es_hits >= fr_hits THEN 'es' ELSE 'fr' END AS pred_lang,
       |    round(CASE WHEN n_chars > 0 THEN CAST(n_punct AS DOUBLE) / n_chars ELSE 0.0 END, 6) AS punct_ratio,
       |    round(CASE WHEN n_words > 0 THEN CAST(stop_hits AS DOUBLE) / n_words ELSE 0.0 END, 6) AS stopword_ratio
       |  FROM f),
       |g AS (
       |  SELECT * FROM l
       |  WHERE pred_lang <> 'und'
       |    AND stopword_ratio >= 0.02 AND punct_ratio <= 0.3),
       |d AS (
       |  SELECT *,
       |    min(doc_id) OVER (PARTITION BY content_hash) AS canonical_doc_id,
       |    CAST(count(*) OVER (PARTITION BY content_hash) AS BIGINT) AS n_dups
       |  FROM g)
       |SELECT doc_id, lang, pred_lang, stopword_ratio, punct_ratio,
       |  bpe_tokens, n_dups
       |FROM d
       |WHERE doc_id = canonical_doc_id
       |  AND ${duckKeep("'0'", "doc_id")}
       |    < CASE WHEN pred_lang = 'en' THEN 0.5 ELSE 1.0 END""".stripMargin

  /** p2 — deterministic corpus shuffle into training shards: every
    * document draws a shard from an md5 hash (seed 1 — independent of
    * the seed-0 within-shard pack order), and each shard packs into
    * 512-token sequences via the same bucketed distributed prefix sum
    * as t12 ([[graft.operators.Sampling.sequencePack]] with the
    * computed shard as the stratum). This is the write-side step a
    * training pipeline runs LAST: a reproducible global shuffle (no
    * `rand()`, no partition-layout dependence) plus the per-shard
    * packing manifest a tokenizer worker consumes independently.
    * Scale: shard count is chosen (not data-sized), the hash decision
    * is scan-local, and no shard ever occupies one window partition —
    * the prefix sum stays bucketed inside each shard.
    */
  def p2ShuffleShard(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(col("doc_id"), col("source"),
      size(Dedup.words(col("text"))).cast("long").as("n_tokens"))
    val sharded = d.withColumn("shard",
      pmod(Dedup.md5Hash60(lit(1), col("doc_id").cast("string")), lit(8L)))
    Sampling.sequencePack(sharded, stratum = "shard", id = "doc_id",
      tokens = col("n_tokens"), seqTokens = 512, nBuckets = 64)
  }

  val p2Sql: String =
    s"""WITH t AS (
       |  SELECT doc_id, source,
       |    CAST(len(${duckWords("text")}) AS BIGINT) AS n_tokens,
       |    ${duckHash60("'0'", "CAST(doc_id AS VARCHAR)")} AS u,
       |    ${duckHash60("'1'", "CAST(doc_id AS VARCHAR)")} % 8 AS shard
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, source, n_tokens, shard,
       |    CAST(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY u, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS cum_tokens
       |  FROM t WHERE n_tokens > 0)
       |SELECT doc_id, source, n_tokens, CAST(shard AS BIGINT) AS shard,
       |  cum_tokens,
       |  CAST(cum_tokens - n_tokens AS BIGINT) AS start_tok,
       |  CAST((cum_tokens - n_tokens) // 512 AS BIGINT) AS first_seq,
       |  CAST((cum_tokens - 1) // 512 AS BIGINT) AS last_seq,
       |  CAST((cum_tokens - n_tokens) % 512 AS BIGINT) AS offset_in_seq
       |FROM c""".stripMargin

  /** m4 — windowed audio features through the real WAV codec: the
    * same synth→encode→decode round-trip as m2b, then each decoded PCM
    * stream windows into 64-sample frames with exact-integer features
    * per window — sample count, energy (Σk²), peak, and the count of
    * strictly-rising sample steps WITHIN the window. The rising count
    * is the point: it is order-sensitive, so a decoder that returned
    * the right multiset of samples in the wrong order fails the hash
    * (sum/max features can't see ordering). Zero shuffles — windowing
    * happens inside the decode partition.
    */
  def m4AudioWindows(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Multimodal.decodeFrames(wavFrames(s, dir))(Codecs.wavPcm16)
      .flatMap { f =>
        val ks = new Array[Long](f.feature.length)
        var i = 0
        while (i < ks.length) {
          ks(i) = math.round(f.feature(i).toDouble * 32768.0)
          i += 1
        }
        (0 until (ks.length + 63) / 64).map { w =>
          val lo = w * 64
          val hi = math.min(ks.length, lo + 64)
          var energy = 0L
          var peak = 0L
          var rising = 0L
          var j = lo
          while (j < hi) {
            val k = ks(j)
            energy += k * k
            if (k > peak) peak = k
            if (j > lo && k > ks(j - 1)) rising += 1
            j += 1
          }
          (f.doc_id, w.toLong, (hi - lo).toLong, energy, peak, rising)
        }
      }
      .toDF("doc_id", "win_idx", "n_samples", "energy", "peak_abs",
        "n_rising")
  }

  /** m4's DuckDB twin: samples re-derived from character codes (the
    * m2b ASCII contract), the previous sample re-derived arithmetically
    * for the rising test (NULL at each window start, excluded by the
    * CASE — matching the Spark side's window-local comparison).
    */
  val m4Sql: String =
    """WITH s AS (
      |  SELECT doc_id, text, unnest(range(0, length(text) // 2)) AS i
      |  FROM documents WHERE length(text) >= 2),
      |v AS (
      |  SELECT doc_id, i // 64 AS win_idx,
      |    ascii(substring(text, CAST(i * 2 + 1 AS INT), 1))
      |    + 256 * ascii(substring(text, CAST(i * 2 + 2 AS INT), 1)) AS k,
      |    CASE WHEN i % 64 > 0 THEN
      |      ascii(substring(text, CAST(i * 2 - 1 AS INT), 1))
      |      + 256 * ascii(substring(text, CAST(i * 2 AS INT), 1))
      |    ELSE NULL END AS kp
      |  FROM s)
      |SELECT doc_id, CAST(win_idx AS BIGINT) AS win_idx,
      |  CAST(count(*) AS BIGINT) AS n_samples,
      |  CAST(sum(k * k) AS BIGINT) AS energy,
      |  CAST(max(k) AS BIGINT) AS peak_abs,
      |  CAST(COALESCE(sum(CASE WHEN k > kp THEN 1 ELSE 0 END), 0)
      |    AS BIGINT) AS n_rising
      |FROM v GROUP BY doc_id, win_idx""".stripMargin

  /** p3 — the corpus AUDIT report: per (source, lang) — document and
    * token counts, the t13 quality-gate pass rate, and exact-dup
    * exposure (docs whose normalized text has ≥2 copies + distinct
    * text count). The dashboard a pipeline reads before every
    * training-mix decision, computed in one query: the signal
    * projection is one scan (t13's staged metrics with source/lang/
    * content-hash carried through), the dup exposure is one window on
    * the content hash, and the report is one bounded aggregation —
    * only narrow signal rows ever shuffle, text stays in the scan.
    * keep_rate's AVG divides an exactly-represented 0/1 sum by the
    * group count (one correctly-rounded binary64 op), so the DuckDB
    * twin reproduces it bit-for-bit.
    */
  def p3CorpusReport(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pre = docs(s, dir).select(col("doc_id"), col("text"),
      col("source"), col("lang"),
      md5(Dedup.normText(col("text"))).as("content_hash"))
    val sig = TextAnalysis.gopherFilter(pre,
      carry = Seq("source", "lang", "content_hash"))
    val withDup = sig.withColumn("n_copies",
      count(lit(1)).over(Window.partitionBy(col("content_hash"))))
    withDup.groupBy(col("source"), col("lang")).agg(
      count(lit(1)).as("n_docs"),
      sum(col("n_words")).as("n_tokens"),
      round(avg(col("keep").cast("double")), 6).as("keep_rate"),
      sum(when(col("n_copies") > 1, 1L).otherwise(0L)).as("n_dup_docs"),
      countDistinct(col("content_hash")).as("n_distinct_texts"))
  }

  val p3Sql: String =
    s"""WITH ${duckGopherMetrics(
        "\n    source, lang,\n    md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS content_hash,",
        " source, lang, content_hash,")},
       |k AS (
       |  SELECT *,
       |    ${duckGopherRules.map { case (_, p) => s"($p)" }
        .mkString("\n      AND ")} AS keep
       |  FROM m),
       |d AS (
       |  SELECT *, COUNT(*) OVER (PARTITION BY content_hash) AS n_copies
       |  FROM k)
       |SELECT source, lang,
       |  CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(n_words) AS BIGINT) AS n_tokens,
       |  round(AVG(CASE WHEN keep THEN 1.0 ELSE 0.0 END), 6) AS keep_rate,
       |  CAST(SUM(CASE WHEN n_copies > 1 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_dup_docs,
       |  CAST(COUNT(DISTINCT content_hash) AS BIGINT) AS n_distinct_texts
       |FROM d GROUP BY 1, 2""".stripMargin

  /** The p4 mix table: every source weighted by a deterministic
    * asymmetric formula ((i mod 4) + 1 — shares 120/240/360/480 tokens
    * of the 6000 total after normalization), shared by the Spark query
    * and the oracle twin so both embed the identical driver-computed
    * integer budgets.
    */
  private val p4Weights: Map[String, Double] =
    (0 until 20).map(i => s"src$i" -> ((i % 4) + 1).toDouble).toMap
  private val p4Budgets: Seq[(String, Long)] = {
    val wSum = p4Weights.values.sum
    p4Weights.toSeq.sortBy(_._1)
      .map { case (k, w) => (k, (w / wSum * 6000L).toLong) }
  }

  /** p4 — dataset-mix sampling ([[graft.operators.Sampling.datasetMix]]):
    * each source contributes its target share of a 6000-token budget
    * via the per-stratum hash-ordered prefix, budgets allocated from
    * the mix weights on the driver. Gated on the bucketed
    * distributed-prefix-sum form with the per-stratum budget frontier.
    */
  def p4DatasetMix(s: SparkSession, dir: String): DataFrame =
    Sampling.datasetMix(
      docs(s, dir).select(col("doc_id"), col("source"),
        size(Dedup.words(col("text"))).cast("long").as("n_tokens")),
      stratum = "source", id = "doc_id", tokens = col("n_tokens"),
      weights = p4Weights, totalBudget = 6000L, nBuckets = 64)

  val p4Sql: String =
    s"""WITH t AS (
       |  SELECT doc_id, source,
       |    CAST(len(${duckWords("text")}) AS BIGINT) AS n_tokens,
       |    ${duckHash60("'0'", "CAST(doc_id AS VARCHAR)")} AS u
       |  FROM documents),
       |b(source, budget) AS (VALUES
       |  ${p4Budgets.map { case (k, v) => s"('$k', ${v})" }
        .mkString(",\n  ")}),
       |c AS (
       |  SELECT t.doc_id, t.source, t.n_tokens, b.budget,
       |    CAST(SUM(n_tokens) OVER (PARTITION BY t.source
       |      ORDER BY u, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS cum_tokens
       |  FROM t JOIN b ON t.source = b.source)
       |SELECT doc_id, source, n_tokens, cum_tokens,
       |  CAST(budget AS BIGINT) AS budget
       |FROM c WHERE cum_tokens <= budget""".stripMargin

  /** m10 — FLAC-style LOSSLESS AUDIO decode (r13, [[Codecs.gflEncode]]
    * / [[Codecs.gflDecode]]): the predictive-audio + entropy-coding
    * class at the plug-point, hand-rolled BOTH directions including
    * the entropy coder itself (PNG's deflate rode `java.util.zip`) —
    * FLAC's SUBFRAME_FIXED family: the five fixed linear predictors of
    * orders 0–4 with Rice/Golomb-coded residuals (zigzag → unary
    * quotient + k low bits, MSB-first), order and k chosen by the
    * standard FLAC encoder heuristics. Each document's bytes become
    * int16 PCM (the m2b synthesis rule), compress through the real
    * encoder, and decode back inside the partition. Lossless ⇒ the
    * oracle gates decoded VALUES (the m6 gate): count, energy, peak,
    * and the ORDER-SENSITIVE rising-step count (m4's rule — a decoder
    * reconstructing the right sample multiset through the wrong
    * predictor recurrence fails the hash). Zero shuffles, plan-pinned.
    */
  def m10FlacDecode(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import java.nio.{ByteBuffer, ByteOrder}
    val frames = docs(s, dir)
      .select(col("doc_id"), col("text"))
      .filter(length(col("text")) >= 2)
      .as[(Long, String)]
      .map { case (id, text) =>
        require(text.forall(_ < 128),
          s"m10 requires an ASCII corpus; doc $id has non-ASCII text")
        val b = text.getBytes("US-ASCII")
        val n = b.length / 2
        val pcm = new Array[Short](n)
        val bb = ByteBuffer.wrap(b, 0, n * 2).order(ByteOrder.LITTLE_ENDIAN)
        var i = 0
        while (i < n) { pcm(i) = bb.getShort(i * 2); i += 1 }
        Multimodal.Frame(id, 0L, Codecs.gflEncode(pcm))
      }
    Multimodal.decodeFrames(frames)(Codecs.gflDecode)
      .map { f =>
        val k = f.feature.map(_.toLong)
        var rising = 0L
        var i = 1
        while (i < k.length) { if (k(i) > k(i - 1)) rising += 1; i += 1 }
        (f.doc_id, k.length.toLong, k.map(v => v * v).sum, k.max, rising)
      }
      .toDF("doc_id", "n_samples", "energy", "peak_abs", "n_rising")
  }

  /** m10's DuckDB twin: sample statistics re-derived from character
    * codes (the m2b pairing) — lossless, so the VALUES gate end to
    * end; the lag window makes the gate order-sensitive. */
  val m10Sql: String =
    """WITH s AS (
      |  SELECT doc_id, text, unnest(range(0, length(text) // 2)) AS i
      |  FROM documents WHERE length(text) >= 2),
      |v AS (
      |  SELECT doc_id, i,
      |    ascii(substring(text, CAST(i * 2 + 1 AS INT), 1))
      |    + 256 * ascii(substring(text, CAST(i * 2 + 2 AS INT), 1)) AS kv
      |  FROM s),
      |w AS (
      |  SELECT doc_id, kv,
      |    CASE WHEN kv > lag(kv) OVER (PARTITION BY doc_id ORDER BY i)
      |      THEN 1 ELSE 0 END AS r
      |  FROM v)
      |SELECT doc_id,
      |  CAST(count(*) AS BIGINT) AS n_samples,
      |  CAST(sum(kv * kv) AS BIGINT) AS energy,
      |  CAST(max(kv) AS BIGINT) AS peak_abs,
      |  CAST(sum(r) AS BIGINT) AS n_rising
      |FROM w GROUP BY doc_id""".stripMargin

  /** p7 — TEMPERATURE-flattened dataset mix ([[Sampling
    * .temperatureMix]] — the T5/mT5 τ-sampling rule at τ = 1/2):
    * per-source budgets derive from the corpus's own token totals
    * (w ∝ √n, integer-exact end to end — see the operator doc for why
    * τ = 1/2 is the one engine-exact temperature), then selection is
    * the same deterministic hash-ordered prefix as every sampler.
    * Unlike p4 the oracle derives the budgets TOO (totals → floored
    * sqrt weights → integer DIV split), so the gate covers the
    * self-calibration, not just the prefix sum.
    */
  def p7TemperatureMix(s: SparkSession, dir: String): DataFrame =
    Sampling.temperatureMix(
      docs(s, dir).select(col("doc_id"), col("source"),
        size(Dedup.words(col("text"))).cast("long").as("n_tokens")),
      stratum = "source", id = "doc_id", tokens = col("n_tokens"),
      totalBudget = 6000L, nBuckets = 64)

  val p7Sql: String =
    s"""WITH t AS (
       |  SELECT doc_id, source,
       |    CAST(len(${duckWords("text")}) AS BIGINT) AS n_tokens,
       |    ${duckHash60("'0'", "CAST(doc_id AS VARCHAR)")} AS u
       |  FROM documents),
       |tot AS (SELECT source, SUM(n_tokens) AS n FROM t GROUP BY 1),
       |w AS (
       |  SELECT source,
       |    CAST(floor(sqrt(CAST(n AS DOUBLE))) AS BIGINT) AS w
       |  FROM tot),
       |b AS (
       |  SELECT source, w * 6000 // (SELECT SUM(w) FROM w) AS budget
       |  FROM w WHERE (SELECT SUM(w) FROM w) > 0),
       |c AS (
       |  SELECT t.doc_id, t.source, t.n_tokens, b.budget,
       |    CAST(SUM(n_tokens) OVER (PARTITION BY t.source
       |      ORDER BY u, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS cum_tokens
       |  FROM t JOIN b ON t.source = b.source)
       |SELECT doc_id, source, n_tokens, cum_tokens,
       |  CAST(budget AS BIGINT) AS budget
       |FROM c WHERE cum_tokens <= budget""".stripMargin

  /** q25 — distinct 3-shingles per source through the MERGEABLE
    * K-Minimum-Values sketch ([[graft.functions.Kmv]] — the
    * ClickHouse `uniq()` surface): ONE aggregation whose shuffle
    * carries ≤ k longs per (task, source) with map-side combine,
    * where q8's exact COUNT(DISTINCT) expands the full value grain.
    * On this corpus the per-source shingle cardinality (1.5k at
    * sf0.01, 11k at sf0.1) sits under k = 16384, so the buffer never
    * saturates and the estimate is EXACT — the DuckDB oracle gates
    * it (the q23 discipline); the saturated regime (distinct ≫ k,
    * the sf1+ shape) is spec-gated against the ~1/sqrt(k-2) relative
    * standard error, and the stored-sketch set-operation estimators
    * (union/Jaccard/intersection without rescanning either corpus)
    * are spec-gated against exact set algebra.
    */
  def q25DistinctKmv(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("source"),
        explode(Dedup.shinglesN(col("text"), 3)).as("g"))
      .groupBy(col("source"))
      .agg(graft.functions.Kmv.kmvDistinct(col("g"), 16384)
        .as("distinct_shingles"))

  val q25Sql: String =
    s"""WITH toks AS (
       |  SELECT source, ${duckWords("text")} AS ws FROM documents),
       |sh AS (SELECT source, unnest(${duckShinglesN(3)}) AS g FROM toks)
       |SELECT source, CAST(COUNT(DISTINCT g) AS BIGINT)
       |  AS distinct_shingles
       |FROM sh GROUP BY source""".stripMargin

  /** q30 — per-(returnflag, ship year) price quantiles through the
    * MERGEABLE KLL sketch ([[graft.functions.Kll]] — the ClickHouse
    * `quantileTDigest`/`quantilesKLL` surface): ONE aggregation whose
    * shuffle carries a ~k-item summary per (task, group) with
    * map-side combine, then three rank-selects at SUMMARY grain —
    * where the exact path (q16's `percentile`) shuffles and sorts the
    * full value grain. On this corpus the largest group holds ~2.9k
    * rows at sf0.01 and ~29k at sf0.1, under k = 32768, so no
    * compaction ever fires, the summary is the complete multiset and
    * every quantile is EXACT = DuckDB `quantile_disc` (the q25/q23
    * discipline); the saturated regime (n ≫ k, the sf1+ shape) is
    * spec-gated against the KLL rank-error bound, fold-shape
    * stressed. Values enter as `floor(price)` BIGINT — floor, not
    * cast, because DuckDB CAST(double AS BIGINT) rounds while Spark's
    * floors (the engine-exactness rule every oracle here follows).
    */
  def q30QuantileSketch(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Kll
    Tables.load(s, dir, "lineitem")
      .groupBy(col("l_returnflag"),
        year(col("l_shipdate")).cast("long").as("yr"))
      .agg(Kll.quantileSketch(
        floor(col("l_extendedprice")).cast("long"), 32768).as("sk"))
      .select(col("l_returnflag"), col("yr"),
        Kll.quantileValue(col("sk"), 0.5).as("p50"),
        Kll.quantileValue(col("sk"), 0.9).as("p90"),
        Kll.quantileValue(col("sk"), 0.99).as("p99"))
  }

  val q30Sql: String =
    """SELECT l_returnflag, CAST(year(l_shipdate) AS BIGINT) AS yr,
      |  quantile_disc(CAST(floor(l_extendedprice) AS BIGINT), 0.5) AS p50,
      |  quantile_disc(CAST(floor(l_extendedprice) AS BIGINT), 0.9) AS p90,
      |  quantile_disc(CAST(floor(l_extendedprice) AS BIGINT), 0.99) AS p99
      |FROM lineitem GROUP BY 1, 2""".stripMargin

  /** q33 — EXACT audience overlap through compressed bitmaps
    * ([[graft.functions.Bitmap]] — the ClickHouse `groupBitmap` /
    * `bitmapAndCardinality` surface, Roaring containers): per
    * event-type user bitmaps built in ONE aggregation (the summary on
    * the wire is O(|audience|) bits with map-side combine), then the
    * types² pair grid runs on SUMMARY rows — shared/union/Jaccard
    * answered EXACTLY by chunkwise popcounts, never a user-grain pair
    * join. The exact sibling of d15's KMV estimates: below ~10^8 ids
    * per group the set itself is affordable and every answer
    * hash-gates in EVERY regime (set union is order-free — no exact-
    * window pin needed, unlike q25/q23/q30). Zero-overlap pairs are
    * emitted (the grid is types², the oracle left-joins the shared
    * counts), and the Jaccard is one double division of identical
    * BIGINTs on both engines, 6dp-rounded (the d15 rule).
    */
  def q33BitmapOverlap(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Bitmap
    val bms = Tables.load(s, dir, "events")
      .groupBy(col("event_type"))
      .agg(Bitmap.bitmap(col("user_id")).as("bm"))
    val a = bms.select(col("event_type").as("type_a"), col("bm").as("bma"))
    val b = bms.select(col("event_type").as("type_b"), col("bm").as("bmb"))
    a.join(b, col("type_a") < col("type_b"))
      .withColumn("shared_users",
        Bitmap.bitmapAndCount(col("bma"), col("bmb")))
      .withColumn("union_users",
        Bitmap.bitmapCount(col("bma")) + Bitmap.bitmapCount(col("bmb"))
          - col("shared_users"))
      .select(col("type_a"), col("type_b"), col("shared_users"),
        col("union_users"),
        round(col("shared_users").cast("double") /
          col("union_users").cast("double"), 6).as("jaccard"))
  }

  val q33Sql: String =
    """WITH u AS (SELECT DISTINCT event_type, user_id FROM events),
      |c AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
      |      FROM u GROUP BY 1),
      |shared AS (
      |  SELECT a.event_type AS type_a, b.event_type AS type_b,
      |    CAST(COUNT(*) AS BIGINT) AS s
      |  FROM u a JOIN u b
      |    ON a.user_id = b.user_id AND a.event_type < b.event_type
      |  GROUP BY 1, 2)
      |SELECT ca.event_type AS type_a, cb.event_type AS type_b,
      |  COALESCE(sh.s, 0) AS shared_users,
      |  ca.n + cb.n - COALESCE(sh.s, 0) AS union_users,
      |  round(CAST(COALESCE(sh.s, 0) AS DOUBLE)
      |    / (ca.n + cb.n - COALESCE(sh.s, 0)), 6) AS jaccard
      |FROM c ca JOIN c cb ON ca.event_type < cb.event_type
      |LEFT JOIN shared sh
      |  ON sh.type_a = ca.event_type AND sh.type_b = cb.event_type""".stripMargin

  /** d15 — the SOURCE-OVERLAP matrix from stored sketches: estimated
    * shared-shingle count and Jaccard for every source pair, computed
    * ENTIRELY from the per-source KMV sketches (q25's aggregate —
    * [[graft.functions.Kmv.intersectEstimate]]/[[graft.functions.Kmv
    * .jaccardEstimate]]) — the "which crawls overlap / did an eval
    * set leak between sources" audit. The corpus is scanned ONCE to
    * build ≤ k-long sketches; the pair grid is sketch rows, never a
    * value-grain pair join — and above [[sourceOverlap]]'s
    * `bandedAbove` source-count threshold the sources² grid itself
    * gives way to the banded candidate pre-filter (the d15b algebra),
    * so the default face survives high source cardinality. In the
    * unsaturated regime the estimates
    * are EXACT (the sketch holds every hash), which is what the
    * DuckDB oracle — literal COUNT(DISTINCT) set algebra per pair —
    * gates; Jaccard rides 6dp-rounded (one double division of
    * identical integer operands on both engines).
    */
  def d15SourceOverlap(s: SparkSession, dir: String): DataFrame =
    sourceOverlap(docs(s, dir))

  /** The overlap-matrix entry point with the r13 scale default: below
    * `bandedAbove` sources (the catalog-grain regime the DuckDB
    * oracle gates) the EXACT sources² sketch grid runs — every pair,
    * including zero-overlap ones; above it the banded candidate
    * pre-filter ([[overlapFromSketches]] — the d15b algebra, every
    * emitted row spec-equal to the grid's) is the default, because
    * the grid's pair count is sources² REGARDLESS of true overlap —
    * the one measured scale-killer of the r12 audit (sf10's 2000
    * sources: 2M pairs / 635s; the banded path only ever pays for
    * pairs that share a sketch minimum). A caller who wants the full
    * grid at high cardinality (e.g. to SEE the zeros) passes
    * `bandedAbove = Int.MaxValue`. The regime probe is one
    * approx_count_distinct over the pruned `source` column — a
    * column-pruned pre-scan, not a second shingle pass.
    */
  def sourceOverlap(
      d: DataFrame, k: Int = 16384, bands: Int = 8,
      bandedAbove: Int = 256): DataFrame = {
    import graft.functions.Kmv
    val sk = d
      .select(col("source"),
        explode(Dedup.shinglesN(col("text"), 3)).as("g"))
      .groupBy(col("source"))
      .agg(Kmv.kmvSketch(col("g"), k).as("sk"))
    val nSources =
      d.agg(approx_count_distinct(col("source"))).head().getLong(0)
    if (nSources > bandedAbove) overlapFromSketches(sk, k, bands)
    else {
      // no FORCED broadcast: at catalog-sized source counts the
      // planner broadcasts the sketch grid on its own, and forcing it
      // at high cardinality would pin an oversized table to every
      // task — let size statistics decide
      val a = sk.select(col("source").as("source_a"), col("sk").as("ska"))
      val b = sk.select(col("source").as("source_b"), col("sk").as("skb"))
      a.join(b, col("source_a") < col("source_b"))
        .select(col("source_a"), col("source_b"),
          Kmv.intersectEstimate(col("ska"), col("skb"), k).as("shared"),
          round(Kmv.jaccardEstimate(col("ska"), col("skb"), k), 6)
            .as("jaccard"))
    }
  }

  val d15Sql: String =
    s"""WITH toks AS (
       |  SELECT source, ${duckWords("text")} AS ws FROM documents),
       |sh AS (
       |  SELECT DISTINCT source, unnest(${duckShinglesN(3)}) AS g
       |  FROM toks),
       |pairs AS (
       |  SELECT a.source AS source_a, b.source AS source_b,
       |    CAST(count(*) AS BIGINT) AS shared
       |  FROM sh a JOIN sh b ON a.g = b.g AND a.source < b.source
       |  GROUP BY 1, 2),
       |sizes AS (SELECT source, count(*) AS n FROM sh GROUP BY source)
       |SELECT sa.source AS source_a, sb.source AS source_b,
       |  coalesce(p.shared, 0) AS shared,
       |  round(CAST(coalesce(p.shared, 0) AS DOUBLE) /
       |    CAST(sa.n + sb.n - coalesce(p.shared, 0) AS DOUBLE), 6)
       |    AS jaccard
       |FROM sizes sa JOIN sizes sb ON sa.source < sb.source
       |LEFT JOIN pairs p
       |  ON p.source_a = sa.source AND p.source_b = sb.source""".stripMargin

  /** d15b — d15's HIGH-CARDINALITY scale path: the same overlap
    * matrix restricted to CANDIDATE pairs — sources sharing at least
    * one of their first `bands` sketch minimums. The k-min sketch's
    * smallest entries ARE MinHash values, so the sketch doubles as
    * its own LSH index: exploding B minimums per source gives a
    * band join whose output is overlap-driven, not sources² (d15's
    * measured wall — 2M pairs / 635s at sf10's 2000 sources — falls
    * to shared-minimum buckets; disjoint-vocabulary sources never
    * pair). Detection is probabilistic in the overlap: a pair whose
    * smallest SHARED hash sits within the first B minimums of both
    * sides is found — the spec measures recall ≥ τ-pairs on
    * clustered synthetic corpora and the candidate-count collapse.
    * Declared rows-only: the bands are XXH64 values DuckDB cannot
    * recompute; the pair ALGEBRA is d15's oracle-gated code on a
    * subset, and the spec asserts every emitted row equals d15's row
    * for that pair.
    */
  def d15bOverlapLsh(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Kmv
    val k = 16384
    val bands = 8
    val sk = docs(s, dir)
      .select(col("source"),
        explode(Dedup.shinglesN(col("text"), 3)).as("g"))
      .groupBy(col("source"))
      .agg(Kmv.kmvSketch(col("g"), k).as("sk"))
    overlapFromSketches(sk, k, bands)
  }

  /** The banded pair algebra over a per-source sketch table — shared
    * by d15b and its spec (which feeds synthetic clustered corpora).
    */
  def overlapFromSketches(sk: DataFrame, k: Int, bands: Int): DataFrame = {
    import graft.functions.Kmv
    val banded = sk.select(col("source"), col("sk"),
      explode(slice(col("sk"), 1, bands)).as("band"))
    val cand = banded.select(col("band"), col("source").as("source_a"))
      .join(banded.select(col("band"), col("source").as("source_b")),
        Seq("band"))
      .filter(col("source_a") < col("source_b"))
      .select(col("source_a"), col("source_b")).distinct()
    cand
      .join(sk.select(col("source").as("source_a"), col("sk").as("ska")),
        Seq("source_a"))
      .join(sk.select(col("source").as("source_b"), col("sk").as("skb")),
        Seq("source_b"))
      .select(col("source_a"), col("source_b"),
        Kmv.intersectEstimate(col("ska"), col("skb"), k).as("shared"),
        round(Kmv.jaccardEstimate(col("ska"), col("skb"), k), 6)
          .as("jaccard"))
  }

  /** q23 — heavy hitters per source through the MERGEABLE top-k
    * sketch ([[graft.functions.TopKAggregate]] — the ClickHouse
    * `topK()` surface): top-5 terms per source as ONE aggregation
    * whose shuffle carries at most `capacity` counters per
    * (task, group) with map-side combine — never the full
    * (source, term) grain t8's exact path exchanges. On this corpus
    * the per-source vocabulary sits far under the 4096-counter
    * capacity, so no Misra–Gries decrement ever fires and the sketch
    * is EXACT — the DuckDB oracle gates it; the approx regime
    * (distinct ≫ capacity) is spec-gated against brute force with the
    * N/(capacity+1) error bound.
    */
  def q23TopkSketch(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("source"), explode(Dedup.words(col("text"))).as("term"))
      .groupBy(col("source"))
      .agg(graft.functions.TopKAggregate.topK(col("term"), 5, 4096)
        .as("top"))
      .select(col("source"), posexplode(col("top")))
      .select(col("source"), (col("pos") + 1).cast("long").as("rank"),
        col("col.value").as("term"), col("col.n").as("n"))

  val q23Sql: String =
    s"""WITH toks AS (
       |  SELECT source, unnest(${duckWords("text")}) AS term
       |  FROM documents),
       |c AS (
       |  SELECT source, term, CAST(COUNT(*) AS BIGINT) AS n
       |  FROM toks GROUP BY 1, 2),
       |r AS (
       |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY source
       |    ORDER BY n DESC, term) AS BIGINT) AS rank FROM c)
       |SELECT source, rank, term, n FROM r WHERE rank <= 5""".stripMargin

  /** q23b — WEIGHTED heavy hitters (the ClickHouse `topKWeighted()`
    * surface, [[graft.functions.TopKWeightedAggregate]]): top sources
    * per language by TOKEN volume — the mix-audit question ("who
    * contributes the training tokens?") a row-count top-k answers
    * wrongly when documents vary 10–100 words. One update per
    * DOCUMENT (value = source, weight = scan-local token count), one
    * aggregation whose shuffle carries ≤ capacity counters per
    * (task, lang) — never the token grain, never even the doc grain
    * past the map side. Source cardinality sits far under capacity,
    * so no subtraction fires and the sketch is EXACT — oracle-gated;
    * the approx regime is spec-bounded (W/(capacity+1) underestimates
    * on a skewed weighted stream).
    */
  def q23bTopkWeighted(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("lang"), col("source"),
        size(Dedup.words(col("text"))).cast("long").as("w"))
      .groupBy(col("lang"))
      .agg(graft.functions.TopKAggregate.topKWeighted(
        col("source"), col("w"), 5, 4096).as("top"))
      .select(col("lang"), posexplode(col("top")))
      .select(col("lang"), (col("pos") + 1).cast("long").as("rank"),
        col("col.value").as("source"), col("col.n").as("n_tokens"))

  val q23bSql: String =
    s"""WITH d AS (
       |  SELECT lang, source,
       |    CAST(len(${duckWords("text")}) AS BIGINT) AS w
       |  FROM documents),
       |c AS (
       |  SELECT lang, source, CAST(SUM(w) AS BIGINT) AS n_tokens
       |  FROM d WHERE w > 0 GROUP BY 1, 2),
       |r AS (
       |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY lang
       |    ORDER BY n_tokens DESC, source) AS BIGINT) AS rank FROM c)
       |SELECT lang, rank, source, n_tokens FROM r WHERE rank <= 5""".stripMargin

  /** d13 — the incremental face of d12 ([[Dedup.semDedupIncremental]],
    * the pure-DataFrame twin of [[graft.sources.VecStore]]'s probe —
    * VecStoreSpec asserts the store answers identically): the corpus
    * splits into a STORED majority (vec_id % 10 ≠ 0) and an ingest
    * batch (vec_id % 10 = 0), the quantizer trains on the stored side
    * only (production: trained at init, batches arrive later), and
    * each batch vector gets its d12-style verdict against the stored
    * corpus alone.
    */
  def d13SemdedupIncremental(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val stored = e.filter(col("vec_id") % 10 =!= 0)
    val batch = e.filter(col("vec_id") % 10 === 0)
    Dedup.semDedupIncremental(stored, batch,
      Similarity.centroids(stored, col("label")), minCos = 0.35)
  }

  /** d13's DuckDB twin: d12Sql's machinery with centroids trained on
    * the stored split, both sides assigned by the 4dp-rounded argmax,
    * and pairs restricted to stored×batch. The oversize cutoff (HAVING
    * > 10000) removes lists wholesale; a batch vector whose list has
    * no stored member keeps its is_dup = false row (LEFT JOINs). */
  val d13Sql: String =
    s"""WITH e AS (
       |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |st AS (SELECT vec_id, v FROM e WHERE vec_id % 10 <> 0),
       |bt AS (SELECT vec_id AS new_vec_id, v FROM e WHERE vec_id % 10 = 0),
       |cents AS (
       |  SELECT e.label, p.pos AS pos, AVG(e.v[p.pos]) AS m
       |  FROM e, (SELECT unnest(range(1, 65)) AS pos) p
       |  WHERE e.vec_id % 10 <> 0
       |  GROUP BY 1, 2),
       |clist AS (
       |  SELECT label AS list_id, list(m ORDER BY pos) AS c
       |  FROM cents GROUP BY label),
       |sa AS (
       |  SELECT vec_id, v, list_id FROM (
       |    SELECT st.vec_id, st.v, cl.list_id,
       |      ROW_NUMBER() OVER (PARTITION BY st.vec_id
       |        ORDER BY round(${duckCos("st.v", "cl.c")}, 4) DESC, cl.list_id) AS r
       |    FROM st, clist cl) WHERE r = 1),
       |ba AS (
       |  SELECT new_vec_id, v, list_id FROM (
       |    SELECT bt.new_vec_id, bt.v, cl.list_id,
       |      ROW_NUMBER() OVER (PARTITION BY bt.new_vec_id
       |        ORDER BY round(${duckCos("bt.v", "cl.c")}, 4) DESC, cl.list_id) AS r
       |    FROM bt, clist cl) WHERE r = 1),
       |big AS (
       |  SELECT sa.list_id FROM sa
       |  JOIN (SELECT DISTINCT list_id FROM ba) p USING (list_id)
       |  GROUP BY 1 HAVING COUNT(*) > 10000),
       |pr AS (
       |  SELECT b.new_vec_id, s.vec_id,
       |    round(${duckCos("s.v", "b.v")}, 4) AS cos
       |  FROM sa s JOIN ba b USING (list_id)
       |  WHERE s.list_id NOT IN (SELECT list_id FROM big)
       |    AND s.vec_id <> b.new_vec_id),
       |drp AS (
       |  SELECT new_vec_id, min(vec_id) AS dup_of, max(cos) AS best_cos
       |  FROM pr WHERE cos >= 0.35 GROUP BY 1)
       |SELECT ba.new_vec_id, ba.list_id, drp.dup_of IS NOT NULL AS is_dup,
       |  drp.dup_of, drp.best_cos
       |FROM ba LEFT JOIN drp USING (new_vec_id)
       |WHERE ba.list_id NOT IN (SELECT list_id FROM big)""".stripMargin

  // ===========================================================
  // Registry
  // ===========================================================

  val registry: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d1_dedup_exact" -> (d1DedupExact _),
    "d2_dedup_ngram_jaccard" -> (d2DedupNgramJaccard _),
    "d3_dedup_minhash_lsh" -> (d3DedupMinhashLsh _),
    "d4_dedup_simhash" -> (d4DedupSimhash _),
    "d4b_simhash_hamming" -> (d4bSimhashHamming _),
    "d6_dedup_clusters" -> (d6DedupClusters _),
    "d6b_dedup_clusters_stars" -> (d6bDedupClustersStars _),
    "d5_dedup_embedding" -> (d5DedupEmbedding _),
    "d7_sample_stratified" -> (d7SampleStratified _),
    "d8_dedup_keep_best" -> (d8DedupKeepBest _),
    "d9_dedup_containment" -> (d9DedupContainment _),
    "d10_sample_budget" -> (d10SampleBudget _),
    "s1_ann_brute_topk" -> (s1AnnBruteTopk _),
    "s2_ann_lsh" -> (s2AnnLsh _),
    "s3_ann_ivf" -> (s3AnnIvf _),
    "s3b_ann_ivf_agg" -> (s3bAnnIvfAgg _),
    "s4_embedding_quantize" -> (s4EmbeddingQuantize _),
    "s7_ann_ivf_tree" -> (s7AnnIvfTree _),
    "s5_ann_pq" -> (s5AnnPq _),
    "s6_ann_ivfpq" -> (s6AnnIvfPq _),
    "t1_lang_id" -> (t1LangId _),
    "t2_quality_score" -> (t2QualityScore _),
    "t3_token_count" -> (t3TokenCount _),
    "t3b_bpe_token_count" -> (t3bBpeTokenCount _),
    "t4_doc_fingerprint" -> (t4DocFingerprint _),
    "t5_contamination" -> (t5Contamination _),
    "t6_pii_scrub" -> (t6PiiScrub _),
    "t7_repetition" -> (t7Repetition _),
    "t8_distinctive_terms" -> (t8DistinctiveTerms _),
    "t9_chunking" -> (t9Chunking _),
    "t10_unigram_surprisal" -> (t10UnigramSurprisal _),
    "t14_bigram_surprisal" -> (t14BigramSurprisal _),
    "t15_bpe_tokenize" -> (t15BpeTokenize _),
    "p5_pack_sequences" -> (p5PackSequences _),
    "p6_curriculum" -> (p6Curriculum _),
    "t11_dup_passages" -> (t11DupPassages _),
    "t12_sequence_pack" -> (t12SequencePack _),
    "d11_passage_scrub" -> (d11PassageScrub _),
    "m1_binary_meta" -> (m1BinaryMeta _),
    "m2_frame_sample" -> (m2FrameSample _),
    "m2b_frame_decode" -> (m2bFrameDecode _),
    "m3_image_features" -> (m3ImageFeatures _),
    "m4_audio_windows" -> (m4AudioWindows _),
    "m5_jpeg_decode" -> (m5JpegDecode _),
    "m6_png_decode" -> (m6PngDecode _),
    "m7_spectrogram" -> (m7Spectrogram _),
    "p1_preprocess" -> (p1Preprocess _),
    "p2_shuffle_shard" -> (p2ShuffleShard _),
    "p3_corpus_report" -> (p3CorpusReport _),
    "p4_dataset_mix" -> (p4DatasetMix _),
    "p7_temperature_mix" -> (p7TemperatureMix _),
    "q23_topk_sketch" -> (q23TopkSketch _),
    "q23b_topk_weighted" -> (q23bTopkWeighted _),
    "q25_distinct_kmv" -> (q25DistinctKmv _),
    "q30_quantile_sketch" -> (q30QuantileSketch _),
    "q33_bitmap_overlap" -> (q33BitmapOverlap _),
    "d12_semdedup" -> (d12SemDedup _),
    "d13_semdedup_incremental" -> (d13SemdedupIncremental _),
    "d14_dup_spans" -> (d14DupSpans _),
    "d14b_span_scrub" -> (d14bSpanScrub _),
    "d15_source_overlap" -> (d15SourceOverlap _),
    "d15b_overlap_lsh" -> (d15bOverlapLsh _),
    "m8_image_dhash" -> (m8ImageDhash _),
    "m9_gif_decode" -> (m9GifDecode _),
    "m10_flac_decode" -> (m10FlacDecode _),
    "s8_ann_mmr" -> (s8AnnMmr _),
    "s9_ann_filtered" -> (s9AnnFiltered _),
    "s10_range_search" -> (s10RangeSearch _),
    "t13_gopher_filter" -> (t13GopherFilter _),
    "t16_compress_ratio" -> (t16CompressRatio _),
    "t17_bm25" -> (t17Bm25 _)
  )

  val oracles: Map[String, String] = Map(
    "d1_dedup_exact" -> d1Sql,
    "d2_dedup_ngram_jaccard" -> d2Sql,
    "d3_dedup_minhash_lsh" -> d3Sql,
    "d4_dedup_simhash" -> d4Sql,
    "d4b_simhash_hamming" -> d4bSql,
    "d6_dedup_clusters" -> d6Sql,
    "d6b_dedup_clusters_stars" -> d6Sql,
    "d5_dedup_embedding" -> d5Sql,
    "d7_sample_stratified" -> d7Sql,
    "d8_dedup_keep_best" -> d8Sql,
    "d9_dedup_containment" -> d9Sql,
    "d10_sample_budget" -> d10Sql,
    "s1_ann_brute_topk" -> s1Sql,
    "s2_ann_lsh" -> s2Sql,
    "s3_ann_ivf" -> s3Sql,
    "s4_embedding_quantize" -> s4Sql,
    "s7_ann_ivf_tree" -> s7Sql,
    "s5_ann_pq" -> s5Sql,
    "s6_ann_ivfpq" -> s6Sql,
    "t1_lang_id" -> t1Sql,
    "t2_quality_score" -> t2Sql,
    "t3_token_count" -> t3Sql,
    "t4_doc_fingerprint" -> t4Sql,
    "t5_contamination" -> t5Sql,
    "t6_pii_scrub" -> t6Sql,
    "t7_repetition" -> t7Sql,
    "t8_distinctive_terms" -> t8Sql,
    "t9_chunking" -> t9Sql,
    "t10_unigram_surprisal" -> t10Sql,
    "t14_bigram_surprisal" -> t14Sql,
    "t11_dup_passages" -> t11Sql,
    "t12_sequence_pack" -> t12Sql,
    "d11_passage_scrub" -> d11Sql,
    "m1_binary_meta" -> m1Sql,
    "m2_frame_sample" -> m2Sql,
    "m2b_frame_decode" -> m2bSql,
    "m3_image_features" -> m3Sql,
    "m4_audio_windows" -> m4Sql,
    "m5_jpeg_decode" -> m5Sql,
    "m6_png_decode" -> m6Sql,
    "m7_spectrogram" -> m7Sql,
    "p1_preprocess" -> p1Sql,
    "p2_shuffle_shard" -> p2Sql,
    "p3_corpus_report" -> p3Sql,
    "p4_dataset_mix" -> p4Sql,
    "p7_temperature_mix" -> p7Sql,
    "p6_curriculum" -> p6Sql,
    "q23_topk_sketch" -> q23Sql,
    "q23b_topk_weighted" -> q23bSql,
    "q25_distinct_kmv" -> q25Sql,
    "q30_quantile_sketch" -> q30Sql,
    "q33_bitmap_overlap" -> q33Sql,
    "d12_semdedup" -> d12Sql,
    "d13_semdedup_incremental" -> d13Sql,
    "d14_dup_spans" -> d14Sql,
    "d14b_span_scrub" -> d14bSql,
    "d15_source_overlap" -> d15Sql,
    "m8_image_dhash" -> m8Sql,
    "m9_gif_decode" -> m9Sql,
    "m10_flac_decode" -> m10Sql,
    "s8_ann_mmr" -> s8Sql,
    "s9_ann_filtered" -> s9Sql,
    "s10_range_search" -> s10Sql,
    "t13_gopher_filter" -> t13Sql,
    "t17_bm25" -> t17Sql
  )
}
