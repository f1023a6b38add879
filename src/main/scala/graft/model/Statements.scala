package graft.model

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The FTM statement data model.
  *
  * The reference decomposes every entity into statement rows — one row
  * per (entity, property, value) assertion — stored in the ClickHouse
  * table defined at /root/reference/ftm_columnstore/engine.py:130-160.
  * On Spark, `Dataset[Statement]` over partitioned parquet is the
  * equivalent canonical representation.
  */
final case class Statement(
    id: String,
    entity_id: String,
    canonical_id: String,
    prop: String,
    prop_type: String,
    schema: String,
    value: String,
    original_value: Option[String],
    dataset: String,
    lang: Option[String],
    target: Boolean,
    external: Boolean,
    first_seen: Option[java.sql.Timestamp],
    last_seen: java.sql.Timestamp)

object Statements {

  /** One property column of a wide entity table, with its FTM prop
    * name and type registry name; optionally the pre-cleaning
    * `original_value` and a `lang` column (engine.py:138,140).
    */
  final case class PropSpec(
      prop: String,
      propType: String,
      col: Column,
      original: Option[Column] = None,
      lang: Option[Column] = None)

  /** The statement id: a 40-char hex checksum over the nomenklatura
    * key string `dataset.entity_id.prop.value` (+ `.ext` for external
    * statements) — the dedup identity of a statement assertion
    * (engine.py:133 `id FixedString(40)`). The reference hashes with
    * sha1; here it is sha256 truncated to the same 40-char width so the
    * DuckDB oracle (which ships no sha1) can recompute it — the id is
    * an opaque equality key, so the hash choice is free.
    */
  def statementId(
      dataset: Column,
      entityId: Column,
      prop: Column,
      value: Column,
      external: Column): Column =
    substring(
      sha2(concat(
        concat_ws(".", dataset, entityId, prop, value),
        when(external, lit(".ext")).otherwise(lit(""))), 256),
      1, 40)

  /** Decompose a wide entity DataFrame into statement rows (the write
    * path: nomenklatura `Statement.from_entity`, applied by
    * `ClickhouseWriter._upsert_batch` at store.py:54-60).
    *
    * Emits the FULL 14-column statement row of the reference DDL
    * (engine.py:133-147): id, entity_id, canonical_id, prop, prop_type,
    * schema, value, original_value, dataset, lang, target, external,
    * first_seen, last_seen. `canonical_id` starts equal to `entity_id`
    * (resolution happens later — see `Fpx.canonicalizeByName`);
    * `last_seen` defaults to the ingest time, which is what versions
    * upserts in the ReplacingMergeTree model. The unpivot is a per-row
    * explode: narrow, shuffle-free, and fully codegen'd — it scales
    * linearly to any table size.
    */
  def unpivot(
      df: DataFrame,
      entityId: Column,
      schema: String,
      dataset: String,
      props: Seq[PropSpec],
      target: Column = lit(false),
      external: Column = lit(false),
      firstSeen: Column = lit(null).cast("timestamp"),
      lastSeen: Column = current_timestamp()): DataFrame = {
    val stmts = array(props.map { p =>
      struct(
        p.col.cast("string").as("value"),
        lit(p.prop).as("prop"),
        lit(p.propType).as("prop_type"),
        p.original.getOrElse(lit(null)).cast("string").as("original_value"),
        p.lang.getOrElse(lit(null)).cast("string").as("lang"))
    }: _*)
    df.select(entityId.cast("string").as("entity_id"), explode(stmts).as("s"),
        target.as("__target"), external.as("__external"),
        firstSeen.cast("timestamp").as("__first_seen"),
        lastSeen.cast("timestamp").as("__last_seen"))
      .filter(col("s.value").isNotNull)
      .select(
        statementId(lit(dataset), col("entity_id"), col("s.prop"),
          col("s.value"), col("__external")).as("id"),
        col("entity_id"),
        col("entity_id").as("canonical_id"),
        col("s.prop").as("prop"),
        col("s.prop_type").as("prop_type"),
        lit(schema).as("schema"),
        col("s.value").as("value"),
        col("s.original_value").as("original_value"),
        lit(dataset).as("dataset"),
        col("s.lang").as("lang"),
        col("__target").as("target"),
        col("__external").as("external"),
        col("__first_seen").as("first_seen"),
        col("__last_seen").as("last_seen"))
  }

  /** Re-assemble entities from statements (the read path:
    * `view.get_entity` / `_iterate_stmts` at store.py:40-45).
    *
    * Properties are folded into a deterministic sorted
    * `prop=value|prop=value` string per entity — a hash-stable stand-in
    * for the prop→values map, portable across engines. Grouping key is
    * `canonical_id`: statements of merged entities collapse into one
    * entity, exactly like the reference's canonical view.
    *
    * With `seenRange = true`, the entity also carries its statement
    * lifetime — min(first_seen) / max(last_seen) — surfacing the
    * temporal statement columns at the entity level (the reference
    * entity proxy's first_seen/last_seen aggregation).
    */
  def assemble(statements: DataFrame, seenRange: Boolean = false): DataFrame =
    assembleWith(statements,
      if (seenRange) Seq(
        min(col("first_seen")).as("first_seen"),
        max(col("last_seen")).as("last_seen"))
      else Nil)

  /** [[assemble]] with `extra` aggregates appended after the entity
    * columns — how a read carries a per-entity column (EntityQuery's
    * sort key) through the assembly group-by.
    */
  private[graft] def assembleWith(
      statements: DataFrame, extra: Seq[Column]): DataFrame = {
    val aggs = Seq(
      array_join(
        array_sort(collect_list(concat_ws("=", col("prop"), col("value")))),
        "|").as("entity"),
      count(lit(1)).as("n_statements")) ++ extra
    statements
      .groupBy(col("canonical_id"), col("schema"), col("dataset"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Entity assembly returning the prop→sorted-values MAP (the API
    * shape of `view.get_entity`); [[assemble]] is its hash-stable
    * string twin for oracle gating.
    */
  def assembleMap(statements: DataFrame): DataFrame =
    statements
      .groupBy(col("canonical_id"), col("schema"), col("dataset"))
      .agg(
        array_sort(collect_list(struct(col("prop"), col("value"))))
          .as("__e"),
        count(lit(1)).as("n_statements"))
      .select(col("canonical_id"), col("schema"), col("dataset"),
        // prop → sorted values array; built from the aggregated entry
        // array (an attribute, so the nested lambdas stay cheap)
        expr("""map_from_entries(transform(
          |  array_distinct(transform(__e, e -> e.prop)),
          |  p -> struct(p, transform(filter(__e, e -> e.prop = p),
          |              e -> e.value))))""".stripMargin).as("properties"),
        col("n_statements"))

  /** Apply an external resolver mapping to a statement table — the
    * reference store is constructed around a nomenklatura `Resolver`
    * (store.py:26-28 `super().__init__(dataset, linker)`) that rewrites
    * every statement's `canonical_id` from recorded judgements.
    *
    * `mapping` is an (entity_id, canonical_id) table (derive one from
    * judgements with [[graft.operators.Xref.resolverMapping]]).
    * Statements of unmapped entities keep their existing canonical_id.
    * One equi-join on entity_id: the mapping is |resolved entities|-
    * sized (≪ statements), so AQE broadcasts it when it fits and the
    * statement table never reshuffles.
    */
  def applyResolver(statements: DataFrame, mapping: DataFrame): DataFrame = {
    val m = mapping.select(col("entity_id").as("__r_entity_id"),
      col("canonical_id").as("__r_canonical_id"))
    statements
      .join(m, statements("entity_id") === m("__r_entity_id"), "left")
      .withColumn("canonical_id",
        coalesce(col("__r_canonical_id"), col("canonical_id")))
      .drop("__r_entity_id", "__r_canonical_id")
  }

  /** Per (dataset, schema) statistics — the `..._stats` materialized
    * view (engine.py:204-220): distinct canonical entities + statement
    * counts. Partial aggregation (map-side combine) makes this one
    * shuffle of pre-aggregated pairs at any scale.
    */
  def stats(statements: DataFrame): DataFrame =
    statements
      .groupBy(col("dataset"), col("schema"))
      .agg(
        countDistinct(col("canonical_id")).as("entities"),
        count(lit(1)).as("statements"))

  /** Sketch-based stats for the 100 TB path: exact countDistinct is a
    * two-shuffle expansion (dataset, schema, canonical_id) before the
    * merge; approx_count_distinct carries one HLL sketch per group
    * through a single map-side-combined shuffle and is mergeable
    * incrementally (the way the reference's stats MV accumulates
    * countState).
    */
  def statsApprox(statements: DataFrame, rsd: Double = 0.02): DataFrame =
    statements
      .groupBy(col("dataset"), col("schema"))
      .agg(
        approx_count_distinct(col("canonical_id"), rsd).as("entities"),
        count(lit(1)).as("statements"))
}
