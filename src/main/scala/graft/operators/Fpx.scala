package graft.operators

import graft.functions.{DoubleMetaphoneExpression, Phonetics}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Fingerprint (fpx) derivation, frequency view, xref blocking and
  * canonical resolution — the reference's pre-matching machinery.
  *
  * Reference anchors:
  *  - fpx table + feed: engine.py:162-180,
  *    statements.py:63-82 (`fingerprints_from_statements`)
  *  - fpx_freq materialized view: engine.py:222-236
  *  - blocking query: tests/test_fingerprints.py
  *  - entity→canonical lookup projection: engine.py:259
  */
object Fpx {

  /** The reference's fpx algorithm enum (engine.py:162 `Enum(
    * 'fingerprint', 'metaphone1', 'metaphone2', 'soundex')`).
    */
  val AllAlgorithms: Seq[String] =
    Seq("fingerprint", "metaphone1", "metaphone2", "soundex")

  /** The reference's fingerprint-feed schema allowlist
    * (`should_fingerprint_stmt`, statements.py:52-58: Mention or
    * anything `is_a` LegalEntity), flattened over the published FTM
    * model's LegalEntity descendants.
    */
  val DefaultSchemas: Seq[String] = Seq(
    "Mention", "LegalEntity", "Person", "Company", "Organization",
    "PublicBody")

  /** Derive fingerprint statements from name-type statements
    * (`should_fingerprint_stmt`, statements.py:52-58 restricts to
    * name-typed props of an allowlisted schema — Mention/LegalEntity in
    * the reference). `schemas` is that allowlist (flattened — Spark has
    * no FTM hierarchy; [[DefaultSchemas]] is the reference's, empty
    * means no restriction for non-FTM corpora like the TPC-H test
    * tables).
    *
    * Per (entity, blocking token) — the full name fingerprint plus
    * every token longer than 5 chars (phonetic.py:32-37) — one row per
    * requested algorithm (statements.py:44-48 loops ALL algorithms per
    * value):
    *   - fingerprint: the token itself
    *   - metaphone1/metaphone2: Double Metaphone primary/secondary
    *     (one native encode yields both; metaphone2 rows exist only
    *     where an alternate pronunciation arises, since empty values
    *     are dropped — statements.py:74)
    *   - soundex: Spark's codegen'd soundex (4-char uppercase; the
    *     reference's libindic codes differ in shape, but soundex
    *     equality — the only thing blocking uses — is preserved)
    *
    * Write-path semantics: duplicates within an entity (two tokens
    * sharing a phonetic code) are emitted as-is, mirroring the insert
    * stream; the store's ReplacingMergeTree key (algorithm, value,
    * prop, schema, dataset, entity_id) collapses them at FINAL — read
    * paths that model FINAL apply `.distinct()`.
    *
    * Pass `algorithms = Seq("fingerprint")` to skip the phonetic
    * encodes entirely (the branch columns are never built, so the scan
    * stays projection-minimal).
    */
  def fromStatements(
      statements: DataFrame,
      algorithms: Seq[String] = AllAlgorithms,
      schemas: Seq[String] = Nil): DataFrame = {
    val allowed =
      if (schemas.isEmpty) statements
      else statements.filter(col("schema").isin(schemas: _*))
    derive(allowed.filter(col("prop_type") === "name"), algorithms)
  }

  /** The entity-level fingerprint view — `get_entity_fpx`
    * (phonetic.py:73-82): per entity, the SET of phonetic tokens per
    * algorithm across its name-type AND label-type values (the
    * statement feed above covers only names; labels add e.g. company
    * legal-form or status labels to the blocking vocabulary). Returns
    * distinct (entity_id, algorithm, value) rows.
    */
  def entityFpx(
      statements: DataFrame,
      algorithms: Seq[String] = AllAlgorithms): DataFrame =
    derive(statements.filter(col("prop_type").isin("name", "label")),
      algorithms)
      .select(col("entity_id"), col("algorithm"), col("value"))
      .distinct()

  /** Shared fpx derivation over pre-filtered statements: fingerprint →
    * blocking tokens → one row per requested algorithm.
    */
  private def derive(
      statements: DataFrame, algorithms: Seq[String]): DataFrame = {
    require(algorithms.nonEmpty && algorithms.forall(AllAlgorithms.contains),
      s"algorithms must be among $AllAlgorithms")
    val named = statements
      .withColumn("fp", Phonetics.fingerprint(col("value")))
      .filter(length(col("fp")) > 0)
    val toks = named.select(
      col("dataset"), col("entity_id"), col("schema"),
      col("prop"), col("prop_type"),
      explode(Phonetics.fpxTokens(col("fp"))).as("tok"))
    val needDm = algorithms.contains("metaphone1") ||
      algorithms.contains("metaphone2")
    val withDm =
      if (needDm)
        toks.withColumn("dm",
          DoubleMetaphoneExpression.doubleMetaphone(col("tok")))
      else toks
    val branches: Seq[Column] = algorithms.map {
      case "fingerprint" =>
        struct(lit("fingerprint").as("algorithm"), col("tok").as("value"))
      case "metaphone1" =>
        struct(lit("metaphone1").as("algorithm"),
          col("dm").getItem(0).as("value"))
      case "metaphone2" =>
        struct(lit("metaphone2").as("algorithm"),
          col("dm").getItem(1).as("value"))
      case "soundex" =>
        struct(lit("soundex").as("algorithm"), soundex(col("tok")).as("value"))
    }
    withDm
      .select(explode(array(branches: _*)).as("av"),
        col("dataset"), col("entity_id"), col("schema"),
        col("prop"), col("prop_type"))
      .select(col("av.algorithm").as("algorithm"), col("av.value").as("value"),
        col("dataset"), col("entity_id"), col("schema"),
        col("prop"), col("prop_type"))
      .filter(length(col("value")) > 0)
  }

  /** The `..._fpx_freq` view: how often each blocking value occurs.
    * Used to drop hyper-frequent blocks before pair generation — the
    * skew guard that keeps xref linear at scale.
    */
  def freq(fpx: DataFrame): DataFrame =
    fpx.groupBy(col("value"))
      .agg(count(lit(1)).as("freq"),
        length(col("value")).cast("bigint").as("len"))

  /** Blocking pairs: distinct (left_id, right_id) entity pairs sharing
    * a fingerprint value held by between `minEntities` and
    * `maxEntities` distinct entities (tests/test_fingerprints.py uses
    * `HAVING entities > 2`; the upper cutoff bounds the quadratic
    * per-block pair blow-up, which is what makes this safe at 100 TB —
    * pair generation is an equi-join on the block value, never a cross
    * join).
    */
  def xrefBlocks(
      fpx: DataFrame,
      minEntities: Long = 2,
      maxEntities: Long = 1000): DataFrame = {
    val blocks = boundedMemberSets(
      fpx, Seq("value"), "entity_id", minEntities, maxEntities)
    distinctPairs(expandSortedSets(blocks, spread = true))
  }

  /** `groupBy(keys).agg(sort_array(collect_set(member)))` with the
    * size-range filter applied BEFORE the sets are built, not only
    * after. Rows with a null key form no set.
    *
    * A plain collect_set materializes a hyper-frequent key's full
    * multi-million-member set in one aggregation buffer before the
    * `size(ids) <= max` filter can discard it — the OOM shape of
    * blocking at 100 TB (a ubiquitous token like "holding" blocks
    * millions of entities). Here every row first learns its key's row
    * count and HLL distinct-member estimate from window aggregates over
    * the key partition, and only rows of keys whose distinct-member
    * count can possibly be in range reach the collect_set, capping any
    * aggregation buffer at ~2·max for any data distribution. A hot
    * key's rows wait in the window's row buffer, which spills to disk,
    * so the memory bound holds. The exact post-collect size filter
    * keeps results byte-identical to the unguarded form (the sketch
    * only needs to never misjudge by 2×, far outside HLL's 5% rsd;
    * rows-below-min is exact already since rows ≥ distinct members).
    *
    * One pass: the window and the set-build aggregate share one
    * clustering on the keys, so the input is read once and crosses at
    * most one Exchange — none over the value-bucketed fpx store, whose
    * scan already delivers it. There is no per-key sketch table joined
    * back on the keys.
    */
  private[graft] def boundedMemberSets(
      df: DataFrame,
      keys: Seq[String],
      member: String,
      min: Long,
      max: Long): DataFrame = {
    val keyCols = keys.map(col)
    val w = Window.partitionBy(keyCols: _*)
    df.select(keyCols :+ col(member): _*)
      .filter(keyCols.map(_.isNotNull).reduce(_ && _))
      .select(col("*"), count(lit(1)).over(w).as("__rows"),
        approx_count_distinct(col(member)).over(w).as("__approx"))
      .filter(col("__rows") >= min && col("__approx") <= max * 2)
      .groupBy(keyCols: _*)
      .agg(sort_array(collect_set(col(member))).as("ids"))
      .filter(size(col("ids")).between(min, max))
  }

  /** Distinct over a generated (left_id, right_id) pair stream,
    * repartitioned on the pair key BEFORE the aggregate.
    *
    * A plain `.distinct()` plans partial hash-agg → shuffle → final
    * hash-agg. Pair streams out of block expansion have near-zero
    * duplicate rate within a map task (duplicates only arise when two
    * entities share MULTIPLE block values, and those copies live in
    * different tasks), so the partial aggregate builds a full-size hash
    * map per task, reduces nothing, and the shuffle is full-size anyway.
    * Forcing the repartition first makes the map side a pure shuffle
    * write and runs one aggregate over clustered data (measured on f8
    * at sf0.1: 3.1M pairs, 4.7s → 2.4s against a 1.7s shuffle floor).
    */
  private[graft] def distinctPairs(pairs: DataFrame): DataFrame =
    pairs.repartition(col("left_id"), col("right_id")).distinct()

  /** Balanced pair expansion of sorted member-set rows: every `ids`
    * row yields all (left_id < right_id) member pairs, each exactly
    * once, with the quadratic work SPREAD across the cluster.
    *
    * A plain chained-Generate expansion streams one block's O(n²)
    * pairs out of a SINGLE task (a 1000-member block = half a million
    * pairs on one thread while the rest of the stage idles). Instead:
    * split the sorted set into fixed chunks, emit one row per ordered
    * chunk PAIR — (n/C)² cheap descriptor rows — rebalance those
    * across the cluster, then expand each chunk-pair locally. The
    * shuffle moves descriptors (ids array + two ints), never pairs.
    * Correctness from sortedness: cross-chunk (ci < cj) left×right are
    * all ordered pairs; same-chunk is the l < r half.
    *
    * Shared by xref blocking and MinHash-LSH bucket expansion; callers
    * apply `.distinct()` for cross-block repeats.
    */
  /** `spread`: repartition the block rows BEFORE the descriptor
    * explodes. The member-set aggregate's output is tiny relative to
    * the descriptor stream ((n/C)² rows per n-member block), so AQE
    * coalesces it down — to ONE task at bench scale — and descriptor
    * generation serializes there. Callers whose blocks carry real mass
    * (fingerprint blocking: up to 1000-member sets, measured 1.2s of
    * single-task descriptor serialization on f8 at sf0.1) pass true;
    * callers whose sets are structurally tiny (MinHash band buckets —
    * near-duplicate groups of a handful of docs) pass false and skip
    * the extra exchange. Explicit partition count: AQE must not
    * re-coalesce the fan-out (the count is the session's scale knob,
    * not a constant).
    */
  private[operators] def expandSortedSets(
      blocks: DataFrame, chunk: Int = 128,
      spread: Boolean = false): DataFrame = {
    val C = chunk
    val P = Components.shufflePartitions(blocks)
    val nChunks = ceil(size(col("ids")).cast("double") / C).cast("int")
    (if (spread) blocks.repartition(P, col("ids")) else blocks)
      .select(col("ids"),
        explode(sequence(lit(0), nChunks - 1)).as("ci"),
        (nChunks - 1).as("maxc"))
      .select(col("ids"), col("ci"),
        explode(sequence(col("ci"), col("maxc"))).as("cj"))
      // slice each descriptor to the TWO chunks it expands before the
      // balancing exchange — the full ids array rode the shuffle
      // (n/C)² times (8 KB per descriptor for a 1000-member block);
      // the chunk pair is ≤ 2·C members (r15: 35.6 MB → ~11 MB of
      // descriptor shuffle on f8 at sf0.1). Same-chunk descriptors
      // (ci = cj) carry a null right chunk and expand the ordered
      // half of the left chunk.
      .select(
        expr(s"slice(ids, ci * $C + 1, $C)").as("lc"),
        when(col("ci") === col("cj"), lit(null))
          .otherwise(expr(s"slice(ids, cj * $C + 1, $C)")).as("rc"))
      .repartition(P, col("lc"), col("rc"))
      .select(col("lc"), col("rc"),
        posexplode(col("lc")).as(Seq("li", "left_id")))
      .select(col("left_id"),
        explode(when(col("rc").isNull,
          expr("slice(lc, li + 2, size(lc) - li - 1)"))
          .otherwise(col("rc"))).as("right_id"))
  }

  /** The xref judgement store semantics (engine.py:181-203): candidate
    * pairs carry (judgement, score, ts, user); re-judging a pair
    * supersedes the old row — ReplacingMergeTree(ts) keyed on the pair.
    * One window inside the (left_id, right_id) clustering; bucketed by
    * pair key the shuffle is elided like the statement store's.
    */
  def latestJudgements(xref: DataFrame): DataFrame =
    ReplacingMerge.latestByKey(
      xref,
      keys = Seq(col("left_id"), col("right_id")),
      version = Seq(col("ts")))

  /** Canonical resolution by identical name fingerprint: every entity
    * sharing a full-name fingerprint resolves to the lexicographically
    * smallest member (the reference keeps this mapping as the
    * `canonical_lookup` projection, engine.py:259). Returns
    * (entity_id, canonical_id).
    */
  def canonicalizeByName(statements: DataFrame): DataFrame = {
    val named = statements
      .filter(col("prop_type") === "name")
      .select(col("entity_id"),
        Phonetics.fingerprint(col("value")).as("fp"))
      .distinct()
    // window-min instead of collect_set+explode: identical semantics
    // (every member paired with the group's smallest id) with no member
    // array ever materialized — a hyper-shared name fingerprint ("john
    // smith" at 100 TB) streams through the sort-based window in O(1)
    // memory instead of building one giant aggregation buffer
    named
      .select(col("entity_id"),
        min(col("entity_id")).over(
          Window.partitionBy(col("fp")))
          .as("canonical_id"))
      .distinct()
  }

  /** The `canonical_lookup` projection (engine.py:259) in mapping-table
    * mode: entity_id → canonical_id for EVERY entity in the store,
    * resolved entities from an external (entity_id, canonical_id)
    * mapping — e.g. [[Xref.resolverMapping]] over recorded judgements —
    * and every unmapped entity resolving to itself. The identity side
    * is the distinct-entity projection of the statement scan; the
    * mapping joins in broadcast-sized.
    */
  def canonicalizeByMapping(
      statements: DataFrame, mapping: DataFrame): DataFrame =
    statements.select(col("entity_id")).distinct()
      .join(mapping.select(col("entity_id"),
        col("canonical_id").as("__m_canonical")), Seq("entity_id"), "left")
      .select(col("entity_id"),
        coalesce(col("__m_canonical"), col("entity_id")).as("canonical_id"))
}
