package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Deterministic stratified sampling — the corpus-rebalancing step of a
  * training-data pipeline (e.g. downsample the dominant language so the
  * mix matches a target distribution, C4/RefinedWeb style).
  *
  * The sampling decision is a pure per-row hash test: a row is kept iff
  * `u(row) < rate(stratum)` where `u` is a uniform [0,1) value derived
  * from the md5 of the row's stable id. That makes the sample
  *   - deterministic: re-running selects the SAME rows (unlike
  *     `df.sample`, whose seed is per-partition-layout and shifts when
  *     the input resplits), so a pipeline re-run is reproducible;
  *   - scan-local: no shuffle, no window, no per-stratum state — the
  *     rate table broadcasts and every executor filters independently,
  *     which is the only shape that survives a stratum with billions
  *     of rows (a per-stratum row_number window would hot-spot one
  *     partition per stratum).
  */
object Sampling {

  /** Uniform [0,1) from the first 8 md5 hex chars of `id` salted with
    * `seed` — 32 bits of hash over 2^32, exactly reproducible in any
    * engine with md5 (the DuckDB oracle recomputes it bit-identically).
    */
  def hashU(seed: Column, id: Column): Column =
    conv(substring(md5(concat(seed.cast("string"), lit(":"),
      id.cast("string"))), 1, 8), 16, 10).cast("long") / lit(4294967296.0)

  /** Keep each row of `df` with probability `rates(stratum)` (default
    * `defaultRate`), decided by the deterministic hash of `id`.
    * `rates` is driver-literal (a handful of strata); it compiles into
    * the filter expression itself, so the plan is a bare scan+filter.
    */
  def stratified(
      df: DataFrame, stratum: Column, id: Column,
      rates: Map[String, Double], defaultRate: Double = 1.0,
      seed: Int = 0): DataFrame = {
    val rate = rates.foldLeft(lit(defaultRate)) { case (acc, (k, r)) =>
      when(stratum === k, lit(r)).otherwise(acc)
    }
    df.filter(hashU(lit(seed), id) < rate)
  }

  /** Token-budget sampling: keep, per stratum, the hash-ordered prefix
    * of rows whose running `tokens` sum stays within `budget` — "give
    * me at most N training tokens per source/language/domain", the
    * mix-balancing step a pipeline runs AFTER filtering and dedup.
    * Rows are ordered by the deterministic 60-bit md5 of `id` (ties by
    * `id`), so the selection is a reproducible uniform sample of the
    * stratum, not a prefix of its storage order, and re-runs (or the
    * DuckDB oracle) pick the identical rows. Output = the kept rows
    * plus their inclusive `cum_tokens`.
    *
    * This plain form computes the running sum in ONE window over the
    * stratum — correct anywhere, but a stratum's entire row set lands
    * in a single window partition, the same single-task hot spot as a
    * per-stratum row_number. Fine when strata are many and modest;
    * for billion-row strata use [[tokenBudgetBucketed]] (spec-asserted
    * row-identical).
    */
  def tokenBudget(
      df: DataFrame, stratum: String, id: String, tokens: Column,
      budget: Long, seed: Int = 0): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(stratum)).orderBy(col("__u"), col(id))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("__u", Dedup.md5Hash60(lit(seed), col(id).cast("string")))
      .withColumn("__n_tokens", tokens.cast("long"))
      .withColumn("cum_tokens", sum(col("__n_tokens")).over(w))
      .filter(col("cum_tokens") <= budget)
      .drop("__u", "__n_tokens")
  }

  /** [[tokenBudget]] as a distributed prefix sum — the shape that
    * survives a stratum with billions of rows. The 60-bit hash space
    * splits into `nBuckets` contiguous ranges, so bucket order IS hash
    * order and the global running sum decomposes:
    *
    *   1. per-(stratum, bucket) token totals — one map-side-combinable
    *      aggregate, ≤ strata × nBuckets rows by construction;
    *   2. each bucket's EXCLUSIVE prefix (sum of earlier buckets) via
    *      a window over that bounded rollup;
    *   3. offsets broadcast back (structurally bounded), and the
    *      running sum completes inside per-(stratum, bucket) windows —
    *      each holding ~1/nBuckets of the stratum instead of all of it.
    *
    * Buckets whose offset already exceeds the budget are dropped by
    * the offset join BEFORE the window shuffle (their every row's
    * cumulative sum exceeds it), so at scale the shuffled volume is
    * bounded by the BUDGET frontier, not the corpus: a 100 TB stratum
    * sampled to 1B tokens shuffles about a bucket's worth of rows past
    * the frontier, everything else drops at the scan.
    */
  def tokenBudgetBucketed(
      df: DataFrame, stratum: String, id: String, tokens: Column,
      budget: Long, nBuckets: Int = 64, seed: Int = 0): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    bucketedCumSum(df, stratum, id, tokens, nBuckets, seed,
      offsetCap = Some(budget))
      .filter(col("cum_tokens") <= budget)
  }

  /** Dataset-MIX sampling (r12): select rows so each stratum
    * contributes its target SHARE of a total token budget — the static
    * domain-reweighting step (the Pile / DoReMi-style mix table) a
    * training pipeline runs after filtering and dedup, where
    * [[tokenBudgetBucketed]]'s single cap per stratum cannot express
    * "60% web, 25% wiki, 15% books". Per-stratum budgets derive on the
    * driver (`weight/Σweights × totalBudget`, floored — the weights
    * table is domain-grain, structurally bounded), and selection
    * within each stratum is the same deterministic hash-ordered prefix
    * as every sampler here, so re-runs and the DuckDB oracle pick
    * identical rows. Strata absent from `weights` are excluded —
    * a mix is an explicit allowlist. Down-sampling only: a stratum
    * with fewer tokens than its allocation keeps everything and the
    * mix under-fills (visible via the emitted `budget` column vs the
    * kept `cum_tokens` max); epoch-style up-sampling is a training-
    * loop concern, not a row-selection one.
    *
    * Scale shape: rides [[bucketedCumSum]] unchanged — the per-stratum
    * budget joins the BOUNDED (stratum, bucket) prefix rollup (one
    * broadcast of a domain-count-sized table), so the budget-frontier
    * drop still happens BEFORE the window shuffle, now at each
    * stratum's own frontier.
    */
  def datasetMix(
      df: DataFrame, stratum: String, id: String, tokens: Column,
      weights: Map[String, Double], totalBudget: Long,
      nBuckets: Int = 64, seed: Int = 0): DataFrame = {
    require(totalBudget > 0, s"totalBudget must be positive, got $totalBudget")
    require(weights.nonEmpty && weights.values.forall(_ > 0.0),
      "weights must be a non-empty map of positive shares")
    val wSum = weights.values.sum
    val spark = df.sparkSession
    import spark.implicits._
    val budgets = weights.toSeq.sortBy(_._1)
      .map { case (k, w) => (k, (w / wSum * totalBudget).toLong) }
      .toDF(stratum, "__budget")
    bucketedCumSum(df, stratum, id, tokens, nBuckets, seed,
      offsetCap = None, budgets = Some(budgets))
      .filter(col("cum_tokens") <= col("__budget"))
      .withColumnRenamed("__budget", "budget")
  }

  /** TEMPERATURE-flattened dataset mix (r13 — the T5/mT5 τ-sampling
    * rule, Raffel et al. 2020 §3.4.3): per-stratum budgets derive from
    * the corpus's OWN token distribution, w_d ∝ n_d^τ at τ = 1/2, so
    * head domains flatten and tail domains up-weight without anyone
    * writing a mix table ([[datasetMix]] is the explicit-weights face;
    * this is the self-calibrating one).
    *
    * τ is FIXED at 1/2 because that is the one temperature with an
    * engine-exact implementation: IEEE-754 requires sqrt correctly
    * rounded (both engines produce the SAME double for the same n),
    * weights floor to integers, and the weight sum + budget split run
    * in pure integer arithmetic (`w · B DIV Σw`) — order-independent,
    * so no double-summation drift can flip a budget by one token. A
    * general pow(n, τ) is NOT correctly rounded and may differ between
    * libms — the same class of cross-engine boundary bug the repo's
    * cents-sum discipline exists for (class doc of
    * [[graft.Queries]]); a deployment wanting other τ values supplies
    * explicit weights through [[datasetMix]].
    *
    * Scale shape: the (stratum, bucket) token rollup — ≤ strata ×
    * `nBuckets` rows by construction — is collected once, and the
    * driver derives everything the budgets need from it in exact long
    * arithmetic: each bucket's exclusive offset, the per-stratum
    * totals and floored sqrt weights, Σw and `w · B DIV Σw` (overflow
    * fails, as Spark's ANSI arithmetic does). The surviving
    * (stratum, bucket, offset, budget) rows join back as a broadcast
    * local table, so the budget-frontier drop still happens before
    * the window shuffle, at each stratum's derived frontier, and no
    * bounded state is checkpointed.
    * Zero-token strata get zero budget; an all-empty corpus yields an
    * empty result (the Σw > 0 guard), never a division error.
    */
  def temperatureMix(
      df: DataFrame, stratum: String, id: String, tokens: Column,
      totalBudget: Long, nBuckets: Int = 64, seed: Int = 0): DataFrame = {
    require(totalBudget > 0, s"totalBudget must be positive, got $totalBudget")
    import scala.jdk.CollectionConverters._
    val base = bucketed(df, stratum, id, tokens, nBuckets, seed)
    val rollup = base.groupBy(col(stratum), col("__bucket"))
      .agg(sum(col("__n_tokens")).as("__bt"))
    // Spark's sum: nulls skipped, null when nothing is left
    def total(xs: Iterable[Any]): Option[Long] =
      xs.collect { case n: Long => n }.reduceOption[Long](Math.addExact)
    // per stratum, its buckets in ascending order (a null bucket — a
    // null id — sorts first, as in the window the offsets replace)
    val strata = rollup.collect().toSeq.groupBy(_.get(0)).map {
      case (s, rs) =>
        s -> rs.sortBy(r => Option(r.get(1)).map(_.asInstanceOf[Long]))
    }
    val weights = strata.map { case (s, rs) =>
      s -> total(rs.map(_.get(2)))
        .map(n => math.floor(math.sqrt(n.toDouble)).toLong)
    }
    val offsets = for {
      wSum <- total(weights.values.flatten).filter(_ > 0).toSeq
      (s, rs) <- strata.toSeq
      w <- weights(s).toSeq
      budget = Math.multiplyExact(w, totalBudget) / wSum
      (r, off) <- rs.zip(rs.scanLeft(0L)((acc, r) => r.get(2) match {
        case n: Long => Math.addExact(acc, n)
        case _ => acc
      }))
      if off < budget
    } yield Row(s, r.get(1), off, budget)
    val schema = StructType(Seq(rollup.schema(stratum),
      rollup.schema("__bucket"), StructField("__off", LongType),
      StructField("__budget", LongType)))
    withinBuckets(df, base, stratum, id,
      df.sparkSession.createDataFrame(offsets.asJava, schema),
      withBudget = true)
      .filter(col("cum_tokens") <= col("__budget"))
      .withColumnRenamed("__budget", "budget")
  }

  /** `df` with the columns every bucketed prefix sum reads: `__u` (the
    * 60-bit md5 of `id`), `__n_tokens` and `__bucket` (the hash range
    * the row falls in, so bucket order IS hash order).
    */
  private def bucketed(
      df: DataFrame, stratum: String, id: String, tokens: Column,
      nBuckets: Int, seed: Int): DataFrame = {
    require(nBuckets > 0, s"nBuckets must be positive, got $nBuckets")
    // md5Hash60 lands in [0, 2^60); integral DIV keeps bucket order
    // exactly aligned with hash order (the q20b lesson: double
    // division drifts past 2^53)
    val width = math.max((1L << 60) / nBuckets, 1L)
    df.withColumn("__u", Dedup.md5Hash60(lit(seed), col(id).cast("string")))
      .withColumn("__n_tokens", tokens.cast("long"))
      .withColumn("__bucket", expr(s"__u DIV ${width}L"))
  }

  /** The shared bucketed-prefix-sum core of [[tokenBudgetBucketed]],
    * [[datasetMix]] and [[sequencePack]]: appends `cum_tokens` (the
    * inclusive running total of `tokens` within `stratum`, ordered by
    * (60-bit md5 of `id`, `id`)) without collapsing a stratum into one
    * window partition. `offsetCap`, when set, drops whole buckets whose
    * exclusive prefix already reaches the cap BEFORE the window
    * shuffle — the budget-frontier optimization only the sampling
    * caller can use (packing needs every row).
    */
  private def bucketedCumSum(
      df: DataFrame, stratum: String, id: String, tokens: Column,
      nBuckets: Int, seed: Int, offsetCap: Option[Long],
      budgets: Option[DataFrame] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = bucketed(df, stratum, id, tokens, nBuckets, seed)
    val prefixes = base
      .groupBy(col(stratum), col("__bucket"))
      .agg(sum(col("__n_tokens")).as("__bt"))
      .withColumn("__off", coalesce(
        sum(col("__bt")).over(Window.partitionBy(col(stratum))
          .orderBy(col("__bucket"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    // per-stratum budgets ([[datasetMix]]): the domain-grain table
    // joins the BOUNDED prefix rollup, so the frontier drop below
    // happens at each stratum's own budget — same place, same cost
    val offsets = (offsetCap, budgets) match {
      case (Some(cap), _) =>
        prefixes.filter(col("__off") < cap)
          .select(col(stratum), col("__bucket"), col("__off"))
      case (None, Some(b)) =>
        prefixes.join(broadcast(b), Seq(stratum))
          .filter(col("__off") < col("__budget"))
          .select(col(stratum), col("__bucket"), col("__off"),
            col("__budget"))
      case (None, None) =>
        prefixes.select(col(stratum), col("__bucket"), col("__off"))
    }
    withinBuckets(df, base, stratum, id, offsets, budgets.isDefined)
  }

  /** The running sum inside each (stratum, bucket) window plus the
    * bucket's exclusive `__off`: `base` joins the broadcast `offsets`
    * (stratum, `__bucket`, `__off`[, `__budget`]), so only rows of the
    * buckets `offsets` keeps reach the window shuffle. Returns `df`'s
    * columns, `cum_tokens` and, `withBudget`, `__budget`.
    */
  private def withinBuckets(
      df: DataFrame, base: DataFrame, stratum: String, id: String,
      offsets: DataFrame, withBudget: Boolean): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(stratum), col("__bucket"))
      .orderBy(col("__u"), col(id))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val outCols = df.columns.map(col) :+ col("cum_tokens")
    base.join(broadcast(offsets), Seq(stratum, "__bucket"))
      .withColumn("cum_tokens",
        sum(col("__n_tokens")).over(w) + col("__off"))
      // the using-join moved its keys first; restore the caller's
      // column order so every caller returns the identical schema
      .select((if (withBudget) outCols :+ col("__budget") else outCols): _*)
  }

  /** Concat-and-split sequence packing — the step that turns a
    * filtered, deduped corpus into fixed-length training sequences:
    * documents concatenate in a deterministic pseudo-random order (the
    * same (hash, id) order the samplers use) within each stratum, and
    * the resulting token stream splits every `seqTokens` tokens. The
    * output is the packing MANIFEST: each document's absolute token
    * offset and the sequence span it lands in — what a tokenizer
    * worker needs to emit its shard without seeing any other document.
    *
    * Zero-token documents occupy no span and are dropped. A document
    * longer than `seqTokens` spans several sequences
    * (`first_seq < last_seq`) — concat-and-split packing cuts it, it
    * does not pad around it.
    *
    * Scale: the same bucketed distributed prefix sum as
    * [[tokenBudgetBucketed]] (no stratum-wide window partition), minus
    * the budget pruning — packing is total, every row keeps a manifest
    * entry, and only (id, stratum, token-count) triples shuffle.
    */
  def sequencePack(
      df: DataFrame, stratum: String, id: String, tokens: Column,
      seqTokens: Long, nBuckets: Int = 64, seed: Int = 0): DataFrame = {
    require(seqTokens > 0, s"seqTokens must be positive, got $seqTokens")
    val kept = df.filter(tokens.cast("long") > 0)
    bucketedCumSum(kept, stratum, id, tokens, nBuckets, seed, None)
      .withColumn("start_tok", col("cum_tokens") - tokens.cast("long"))
      .withColumn("first_seq", expr(s"start_tok DIV ${seqTokens}L"))
      .withColumn("last_seq", expr(s"(cum_tokens - 1) DIV ${seqTokens}L"))
      .withColumn("offset_in_seq", col("start_tok") % seqTokens)
  }

  /** MATERIALIZED sequence packing: [[sequencePack]] emits the
    * coordinates; this emits the training batches themselves — per
    * (stratum, sequence), the `seqTokens`-length id array assembled
    * from the docs packed into it, in packing order. The last piece a
    * tokenizer pipeline writes before the training loop reads.
    *
    * Shape: the packing coordinates come from the same bucketed
    * prefix sum; each doc then splits SCAN-LOCALLY into per-sequence
    * slices (`explode(sequence(first_seq, last_seq))` + `slice` — a
    * doc touches `n/seqTokens + 1` sequences, so the fan-out is the
    * token volume, not a cross product), and ONE aggregation on
    * (stratum, seq) assembles each sequence from its slices, ordered
    * by global token position (`array_sort` on (pos, slice) structs —
    * positions are globally unique, so the sort is total). Moving
    * every token id through that shuffle is the honest cost of
    * materializing batches — it is the same volume any tokenized
    * shard writer moves, paid once, with map-side partial collect.
    * Every sequence is exactly `seqTokens` long except each stratum's
    * final partial (spec-asserted).
    */
  def packIds(
      df: DataFrame, stratum: String, id: String, ids: Column,
      seqTokens: Long, nBuckets: Int = 64, seed: Int = 0): DataFrame = {
    val coords = sequencePack(
      df.select(col(stratum), col(id), ids.as("__ids")),
      stratum, id, size(col("__ids")).cast("long"),
      seqTokens, nBuckets, seed)
    coords
      .withColumn("seq", explode(sequence(col("first_seq"), col("last_seq"))))
      .withColumn("__lo",
        greatest(lit(0L), col("seq") * seqTokens - col("start_tok")))
      .withColumn("__hi",
        least(size(col("__ids")).cast("long"),
          (col("seq") + lit(1L)) * seqTokens - col("start_tok")))
      .select(col(stratum), col("seq"),
        (col("start_tok") + col("__lo")).as("__pos"),
        expr("slice(__ids, CAST(__lo + 1 AS INT), CAST(__hi - __lo AS INT))")
          .as("__slice"))
      .groupBy(col(stratum), col("seq").as("seq_id"))
      .agg(
        count(lit(1)).as("n_docs"),
        flatten(transform(
          array_sort(collect_list(struct(col("__pos"), col("__slice")))),
          s => s.getField("__slice"))).as("ids"))
      .withColumn("n_tokens", size(col("ids")).cast("long"))
      .select(col(stratum), col("seq_id"), col("n_docs"),
        col("n_tokens"), col("ids"))
  }
}
