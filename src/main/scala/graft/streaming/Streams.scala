package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured-Streaming twins of the batch operators: the reference's
  * materialized views (stats, fpx_freq — engine.py:204-236) update
  * incrementally on insert; on Spark the same incremental semantics are
  * watermarked streaming aggregations over the statement/event stream.
  *
  * st1 is the streaming twin of q14_events_time_bucket; st2 is the
  * streaming face of ReplacingMerge (upsert dedup inside the watermark
  * horizon); st3 is custom state: gap-based sessionization via
  * flatMapGroupsWithState.
  */
object Streams {

  /** st1 — event-time tumbling window aggregation with a watermark.
    * State is bounded by the watermark: late events beyond it are
    * dropped, closed windows are evicted — the property that keeps a
    * 100 TB/day stream's state finite.
    */
  def windowedCounts(
      events: DataFrame,
      watermark: String = "10 minutes",
      windowLen: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"),
        // integer-cent sum: exact, associative, primitive state buffer
        // (the engine-wide money-sum recipe — Queries class doc)
        (sum(round(col("value") * 100).cast("long")) / 100.0)
          .as("sum_value"))
      .select(col("window.start").as("bucket_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** st2 — streaming dedup on event_id within the watermark: the
    * streaming face of ReplacingMergeTree upserts (duplicate deliveries
    * collapse; state for ids older than the watermark is evicted).
    */
  def dedupStream(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** st4 — the incremental stats view: per (dataset, schema) entity
    * and statement counts over a statement STREAM — the streaming face
    * of the reference's stats materialized view (engine.py:204-220,
    * `uniqState(canonical_id)` + counts maintained on insert). Entity
    * cardinality rides `approx_count_distinct` (the HLL state is the
    * mergeable, bounded-size summary a ClickHouse uniqState is — an
    * exact distinct would hold every id in stream state forever);
    * statement counts are exact. Write in update/complete mode — each
    * micro-batch revises only the (dataset, schema) rows it touched.
    */
  def statsView(statements: DataFrame): DataFrame =
    statements.groupBy(col("dataset"), col("schema"))
      .agg(approx_count_distinct(col("canonical_id")).as("entities"),
        count(lit(1)).as("statements"))

  /** st5 — streaming statement ingest through Spark's NATIVE file
    * sink (no foreachBatch): each micro-batch lands append-only in a
    * parquet table with the sink's own exactly-once file manifest, and
    * upsert semantics apply AT READ —
    * [[graft.operators.ReplacingMerge.latestByKey]] over the
    * statement key collapses replayed/duplicate rows to max last_seen,
    * exactly the reference's ReplacingMergeTree contract
    * (engine.py:130-166: the table absorbs raw inserts, FINAL dedups).
    * The caller sets `checkpointLocation` and calls `.toTable(name)`.
    * The stored-store twin with the fpx double insert is st8
    * ([[ingestStatements]]); this face is the minimal native-sink
    * path — append-only writes, merge-on-read.
    */
  def statementFileIngest(statements: DataFrame)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    statements.writeStream.format("parquet").outputMode("append")

  /** st6 — the incremental fpx_freq view: blocking-token frequencies
    * over a statement STREAM — the streaming face of the reference's
    * fpx_freq materialized view (engine.py:222-236). The fpx
    * derivation ([[graft.operators.Fpx.fromStatements]]) is STATELESS
    * (filter + explode), so it lifts to streaming unchanged; the freq
    * aggregation is an update-mode grouped count whose state is one
    * row per distinct token — the same bound the stored view has.
    */
  def fpxFreqView(
      statements: DataFrame,
      algorithms: Seq[String] = Seq("fingerprint")): DataFrame =
    graft.operators.Fpx.freq(
      graft.operators.Fpx.fromStatements(statements, algorithms))

  /** st7 — continuous xref candidate generation: a statement STREAM
    * joined against the STORED fpx table. Each incoming name statement
    * yields its blocking tokens (the same stateless fpx derivation as
    * the batch feed), which equi-join the static store to emit (new
    * entity, known entity, shared block) candidates as the data
    * arrives — the push-maintained face of f8.
    *
    * Scale shape: stream-static equi-join on the block value; the
    * static side is the value-bucketed [[graft.sources.FpxStore]]
    * table, so each micro-batch's probe reads only matching buckets
    * and NO state accumulates in the stream (stateless join — the
    * store IS the state). The `maxEntities` guard reuses the store's
    * freq view semantics: hyper-frequent blocks are dropped from the
    * static side before the join, bounding per-token fan-out exactly
    * like the batch blocker's cutoff.
    */
  def xrefCandidates(
      statements: DataFrame,
      storedFpx: DataFrame,
      maxEntities: Long = 1000): DataFrame = {
    val known = storedFpx
      .filter(col("algorithm") === "fingerprint")
      .select(col("value"), col("entity_id").as("known_id"))
      .distinct()
    val bounded = known
      .withColumn("__n",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("value"))))
      .filter(col("__n") <= maxEntities)
      .drop("__n")
    val incoming = graft.operators.Fpx
      .fromStatements(statements, Seq("fingerprint"))
      .select(col("value"), col("entity_id").as("new_id"))
    incoming
      .join(bounded, Seq("value"))
      .filter(col("new_id") =!= col("known_id"))
      .select(col("new_id"), col("known_id"), col("value").as("block_value"))
  }

  /** st8 — streaming statement ingest with the writer's DOUBLE insert
    * (ClickhouseWriter._upsert_batch, store.py:54-60): every
    * micro-batch lands in the statement table AND its derived fpx rows
    * land in the `_fpx` sibling, so the blocking index can never drift
    * from the statements it indexes. foreachBatch because one batch
    * feeds two bucketed tables — the batch is persisted so the fpx
    * derivation reuses the rows the statement write materialized
    * instead of replaying the source.
    *
    * Returns the configured writer — the caller picks trigger and
    * checkpoint location and calls `.start()`. Exactly-once: both
    * appends are idempotent under the FINAL read contract (duplicate
    * replays collapse in [[graft.sources.StatementStore.readFinal]] /
    * the fpx freq view), the same guarantee the batch upsert path has.
    */
  /** The shared foreachBatch double-insert scaffold of every store's
    * streaming write path (st8/st9/st13): the batch persists because
    * one micro-batch feeds two bucketed tables, and unpersists even
    * when a write throws.
    */
  private def ingestInto(source: DataFrame)(write: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    source.writeStream.foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        batch.persist()
        try write(batch, batchId)
        finally { batch.unpersist(); () }
    }

  def ingestStatements(statements: DataFrame, table: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    ingestInto(statements) { (batch, _) =>
      graft.sources.StatementStore.append(batch, table)
      graft.sources.FpxStore.append(
        graft.operators.Fpx.fromStatements(
          batch, schemas = graft.operators.Fpx.DefaultSchemas),
        s"${table}_fpx")
    }

  /** st9 — streaming xref ingest: a judgement stream lands in the main
    * xref table AND its `_reverse` projection per micro-batch
    * ([[graft.sources.XrefStore.append]] maintains both from one
    * insert, the ClickHouse projection-on-insert analogue) — the write
    * path twin of st8's statements+fpx double insert, completing
    * streaming parity for every store the engine maintains. The batch
    * is persisted because one batch feeds two bucketed tables.
    * Exactly-once: replays collapse in the FINAL read
    * ([[graft.operators.Xref.latestJudgements]] keys (left_id,
    * right_id), versioned by ts), same as the batch upsert path.
    */
  def ingestXref(judgements: DataFrame, table: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    ingestInto(judgements)((batch, _) =>
      graft.sources.XrefStore.append(batch, table))

  /** st13 — streaming document ingest into the [[graft.sources.DocStore]]:
    * each micro-batch double-inserts the documents AND their band-key
    * index rows ([[graft.sources.DocStore.append]] — index first, the
    * loud-failure order), completing the st8/st9 write-path trio for
    * every store the engine maintains. The batch is persisted because
    * one batch feeds two bucketed tables. Exactly-once: replays
    * collapse in the FINAL read (dedup by doc_id), and a replayed
    * index row is a duplicate (band, key, doc_id) the probe's set
    * build absorbs — same guarantee as the batch append.
    *
    * `compactEvery` > 0 schedules the OPTIMIZE cadence inside the
    * stream (the reference's periodic `OPTIMIZE TABLE ... FINAL`,
    * engine.py:114-125): every `compactEvery` micro-batches the store
    * is FINAL-rewritten via [[graft.sources.DocStore.compact]]'s
    * staged swap — reads stay available across the compact (the
    * TableSwap no-absent-window guarantee, spec-asserted mid-stream) —
    * but ONLY when re-deliveries actually accumulated. The cadence
    * tick is gated by DRIVER-SIDE append accounting ([[bloatGate]]):
    * an idle tick schedules NO job at all, a tick whose appends are
    * provably under `minBloatRatio` of the store runs one
    * metadata-only count, and only a tick whose cheap bound trips pays
    * the corpus-sized FINAL-dedup count that r10 measured on every
    * tick. The cadence bounds read amplification: between compacts a
    * FINAL read dedups at most `compactEvery` batches of replays.
    * By default the rewrite runs INLINE in foreachBatch — that
    * micro-batch stalls for the rewrite's duration (and a restart can
    * replay the cadence batch into a second, bloat-gated-away check).
    * `asyncCompact = true` (r12) moves the corpus-sized stage build
    * OFF the critical path: the cadence tick only LAUNCHES it
    * ([[AsyncCompactor]]), appends continue against the live tables
    * while it builds, and a later micro-batch runs the append-bounded
    * finish (delta catch-up + metadata swaps —
    * [[graft.sources.DocStore.compactFinish]]); reads stay available
    * throughout (the TableSwap no-absent-window guarantee, plus the
    * stage build never touches the live tables).
    *
    * Cross-session visibility: foreachBatch runs in the stream's
    * CLONED session, whose swap-time refresh cannot reach other
    * sessions' relation caches — an observer session that cached the
    * table's file list before a mid-stream compact must `REFRESH
    * TABLE` before its next read (Spark's standard contract after any
    * external rewrite; the stream's own reads, appends and cadence
    * checks refresh inside the swap and never see the stale list).
    */
  def ingestDocs(
      docs: DataFrame, table: String, compactEvery: Int = 0,
      minBloatRatio: Double = 0.0, asyncCompact: Boolean = false)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val bloatBound = new java.util.concurrent.atomic.AtomicLong(-1L)
    // r12: the out-of-band compactor — built on first use so the heavy
    // stage build runs against the stream's cloned session
    var compactor: AsyncCompactor[graft.sources.DocStore.CompactStage] = null
    ingestInto(docs) { (batch, batchId) =>
      val spark = batch.sparkSession
      if (asyncCompact) {
        if (compactor == null) compactor = new AsyncCompactor(
          () => graft.sources.DocStore.compactStage(spark, table),
          s => graft.sources.DocStore.compactFinish(spark, table, s))
        // a completed stage finishes HERE, serialized with the append
        // below — the only on-critical-path cost is the append-bounded
        // delta catch-up plus two metadata swaps
        if (compactor.maybeFinish()) bloatBound.set(0L)
      }
      graft.sources.DocStore.append(batch, table)
      // batch is persisted (ingestInto) and just materialized by the
      // write — the count is cache-served, never a second source read
      if (bloatBound.get() >= 0L) { bloatBound.addAndGet(batch.count()); () }
      if (compactEvery > 0 && batchId % compactEvery == compactEvery - 1) {
        bloatBound.set(bloatGate(bloatBound.get(),
          () => graft.sources.DocStore.read(spark, table).count(),
          () => graft.sources.DocStore.readFinal(spark, table).count(),
          () =>
            if (asyncCompact) { compactor.schedule(); () }
            else graft.sources.DocStore.compact(spark, table),
          minBloatRatio,
          () => graft.sources.Tombstones.of(table).pending(spark)))
      }
    }
  }

  /** Driver-side coordinator for OUT-OF-BAND compaction (r12 — closing
    * the acknowledged st13/st14 stall where the corpus-sized FINAL
    * rewrite ran inline in foreachBatch): the HEAVY stage build runs
    * on a daemon thread while micro-batches keep appending; the CHEAP
    * finish (delta catch-up + metadata swaps) runs inside a later
    * micro-batch, serialized with the writer, via [[maybeFinish]].
    *
    * Single-writer discipline: [[schedule]] and [[maybeFinish]] are
    * called only from the foreachBatch thread; the background thread
    * only builds the stage and publishes the handle. At most one stage
    * is in flight ([[schedule]] no-ops otherwise — a cadence tick that
    * trips while one builds just waits for the next tick). A stage
    * whose build fails is logged loudly and dropped; the live tables
    * were never touched (the [[graft.sources.DocStore.compactStage]]
    * crash contract), so the next cadence tick simply retries.
    *
    * Accounting note: the bloat gate treats "scheduled" as compacted
    * (bound reset via the finish callback) — the bound is approximate
    * until the next exact check, which recalibrates unconditionally
    * from real counts.
    */
  private[graft] final class AsyncCompactor[S](
      stageF: () => S, finishF: S => Unit) {
    @volatile private[graft] var inFlight = false
    private val ready =
      new java.util.concurrent.atomic.AtomicReference[Option[S]](None)
    /** Launch the heavy stage build off-thread; false if one is
      * already in flight or awaiting finish. */
    def schedule(): Boolean =
      if (inFlight || ready.get().nonEmpty) false
      else {
        inFlight = true
        val t = new Thread(() => {
          try { val s = stageF(); ready.set(Some(s)) }
          catch {
            case scala.util.control.NonFatal(e) =>
              Console.err.println(
                s"[graft] async compact stage failed (live tables " +
                  s"untouched; will retry next cadence): ${e.getMessage}")
          } finally inFlight = false
        }, "graft-async-compact")
        t.setDaemon(true)
        t.start()
        true
      }
    /** Run the cheap finish inline if a stage is ready; false
      * otherwise. Call from the writer thread only. */
    def maybeFinish(): Boolean =
      ready.getAndSet(None) match {
        case Some(s) => finishF(s); true
        case None => false
      }
  }

  /** The cadence bloat gate shared by st13/st14, extracted so its
    * scheduling decisions are spec-checkable without driving a stream:
    * decides from driver-side append accounting alone whether this
    * cadence tick may skip the corpus-sized FINAL-dedup count — or
    * every job — and returns the carried-forward bloat bound.
    *
    * `appended` is an UPPER BOUND on removable bloat (raw − FINAL
    * rows): FINAL only grows under appends, so dead rows accumulated
    * since the last exact check number at most the rows appended since
    * (−1 = unknown, e.g. right after a restart — the previous run may
    * have died holding bloat this counter never saw, so the first tick
    * always confirms exactly). Tiers:
    *
    *   - `appended == 0` (idle tick): NOTHING runs — the r10 finding
    *     was that the gate itself cost two corpus-sized jobs per tick,
    *     on the micro-batch critical path, even when idle.
    *   - `0 < appended ≤ minBloatRatio·raw`: only the metadata-only
    *     raw count runs (parquet footer row counts, no data read); the
    *     bound proves bloat is under threshold without a dedup job.
    *   - otherwise: the exact FINAL count confirms, and the rewrite
    *     runs only when TRUE bloat exceeds the threshold; a refuted
    *     check carries the now-known bloat forward. The default
    *     ratio 0.0 compacts on any confirmed bloat (pre-r11
    *     semantics, which st13b/st14 pin).
    *
    * [[graft.sources.DocStore.pop]] shrinks FINAL outside this
    * accounting — `delsPending` is the takedown signal: a CATALOG
    * check (does the `_dels` tombstone table exist? compact drops it),
    * zero Spark jobs on the no-pop path. When tombstones are pending
    * the tick compacts UNCONDITIONALLY, before any tier — takedown
    * cleanup is a right-to-be-forgotten obligation, not a space-ratio
    * trade, and without this an idle stream would carry tombstoned
    * rows indefinitely (the r11 gap). Pops are already excluded from
    * every read, so nothing is served stale while cleanup waits for
    * the cadence tick.
    */
  private[graft] def bloatGate(
      appended: Long,
      rawCount: () => Long,
      finalCount: () => Long,
      compact: () => Unit,
      minBloatRatio: Double = 0.0,
      delsPending: () => Boolean = () => false): Long =
    if (delsPending()) { compact(); 0L }
    else if (appended == 0L) 0L
    else {
      val raw = rawCount()
      if (appended > 0 && appended <= minBloatRatio * raw) appended
      else {
        val fin = finalCount()
        if (raw - fin > minBloatRatio * raw) { compact(); 0L }
        else raw - fin
      }
    }

  /** st14 — streaming vector ingest into the
    * [[graft.sources.VecStore]]: each micro-batch assigns scan-locally
    * against the persisted quantizer and lands IN its inverted list —
    * there is no second table, so unlike st8/st9/st13 this write path
    * has no between-inserts crash window at all (the partition layout
    * is the index). Exactly-once: replays collapse in the FINAL read;
    * the store answers [[graft.sources.VecStore.nearDupVerdicts]] and
    * [[graft.sources.VecStore.ivfTopK]] immediately (spec).
    * `compactEvery` is st13's OPTIMIZE cadence behind the same
    * [[bloatGate]] append accounting (idle tick = zero jobs); the same
    * cross-session REFRESH TABLE notes apply. `asyncCompact` (r12)
    * moves the corpus-sized work off the critical path exactly as in
    * [[ingestDocs]] — and for this store that is TWO heavy passes, the
    * FINAL dedup and the full `_codes` re-encode
    * ([[graft.sources.VecStore.compactStage]] builds both staged; the
    * in-batch [[graft.sources.VecStore.compactFinish]] pays only the
    * append-bounded delta catch-up plus metadata swaps, and a
    * drift-retrain landing mid-build just invalidates the staged codes
    * via the stamp check — never a wrong serve).
    */
  def ingestVecs(
      vecs: DataFrame, table: String, compactEvery: Int = 0,
      minBloatRatio: Double = 0.0,
      retrainEvery: Int = 0, retrainRatio: Double = 1.2,
      asyncCompact: Boolean = false)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val bloatBound = new java.util.concurrent.atomic.AtomicLong(-1L)
    // r12 drift gate state: the first checked batch's residual is the
    // baseline (self-calibrating — no corpus-sized job, no stored
    // train-time artifact); −1 = recalibrate on the next check
    val baseline = new java.util.concurrent.atomic.AtomicReference[Double](-1.0)
    // r12: the st13 out-of-band compactor, now on the vector store too —
    // the staged build covers BOTH corpus-sized rewrites this path used
    // to run inline (the FINAL dedup AND the full `_codes` re-encode)
    var compactor: AsyncCompactor[graft.sources.VecStore.CompactStage] = null
    ingestInto(vecs) { (batch, batchId) =>
      if (asyncCompact) {
        val spark = batch.sparkSession
        if (compactor == null) compactor = new AsyncCompactor(
          () => graft.sources.VecStore.compactStage(spark, table),
          s => graft.sources.VecStore.compactFinish(spark, table, s))
        if (compactor.maybeFinish()) bloatBound.set(0L)
      }
      graft.sources.VecStore.append(batch.sparkSession, batch, table)
      if (bloatBound.get() >= 0L) { bloatBound.addAndGet(batch.count()); () }
      if (compactEvery > 0 && batchId % compactEvery == compactEvery - 1) {
        val spark = batch.sparkSession
        bloatBound.set(bloatGate(bloatBound.get(),
          () => graft.sources.VecStore.read(spark, table).count(),
          () => graft.sources.VecStore.readFinal(spark, table).count(),
          () =>
            if (asyncCompact) { compactor.schedule(); () }
            else graft.sources.VecStore.compact(spark, table),
          minBloatRatio,
          () => graft.sources.Tombstones.of(table).pending(spark)))
      }
      // r12: the DRIFT-GATED PQ RETRAIN — PqDriftProbe measured a
      // 22–30% residual separation when new mass arrives, and the
      // retrain trigger (pqQuantizationError) existed with nothing
      // invoking it. Every `retrainEvery` batches the BATCH's mean
      // squared quantization residual (batch-sized job: one scan,
      // broadcast codebook) compares against the first check's
      // baseline; a trip retrains via the generation-tolerant staged
      // swap ([[graft.sources.VecStore.retrainPqStaged]] — serving
      // NEVER refuses mid-swap) and recalibrates. Jitter within
      // `retrainRatio` never trips. The 1.2 default sits inside the
      // probe's MEASURED drift band (new mass lifts the residual
      // 22–30%) and far above same-distribution sampling noise
      // (measured <2% batch-to-batch) — a 1.5 trigger would sleep
      // through the drift the probe demonstrates. The retrain itself is corpus-sized
      // and runs inline (rare, drift-triggered; async it via the
      // compactor pattern if drift is routine in your stream).
      if (retrainEvery > 0 && batchId % retrainEvery == retrainEvery - 1 &&
          batch.sparkSession.catalog.tableExists(s"${table}_pq")) {
        val spark = batch.sparkSession
        val cb = graft.sources.VecStore.servingCodebook(spark, table)
          .localCheckpoint()
        val shp = cb.agg(max(col("sub")), max(size(col("cw")))).head()
        val numSub = shp.getInt(0) + 1
        val res = graft.operators.Similarity.pqQuantizationError(
          batch.select(col("vec_id"), col("embedding")),
          cb, numSub, numSub * shp.getInt(1))
          .head().getDouble(0)
        val base = baseline.get()
        if (base < 0.0) { baseline.set(res); () }
        else if (res > retrainRatio * base) {
          graft.sources.VecStore.retrainPqStaged(spark, table)
          baseline.set(-1.0)
        }
      }
    }
  }

  /** st16 — the streaming TAKEDOWN: a pop-request stream (right-to-be-
    * forgotten ids) folds into a live [[graft.sources.DocStore]] per
    * micro-batch — the streaming face of `pop` (the reference's
    * writer-side print-and-remove, store.py:63-71, at stream grain),
    * closing the one write path (deletes) that had no streaming twin.
    *
    * Per batch: the request ids land APPEND-ONLY as tombstones
    * ([[graft.sources.DocStore.popIds]]) — a request-bounded write,
    * nothing corpus-sized on the micro-batch critical path — and every
    * serving face (FINAL read, `nearDupCandidates`) excludes them from
    * the next read on. Physical cleanup is `compactEvery` > 0's
    * cadence: a tick with tombstones pending compacts (the same
    * unconditional dels tier as [[bloatGate]] — takedown cleanup is an
    * obligation, not a space trade); a tick without pending tombstones
    * schedules NOTHING (catalog check only). When the same store is
    * simultaneously fed by an INGEST stream with its own cadence
    * (st13), leave `compactEvery` = 0 here — the ingest's bloat gate
    * sees the pending tombstones and compacts them at its tick; two
    * concurrent compactors would race the staged swap.
    *
    * Replay-idempotent without coordination: a re-delivered request
    * batch appends duplicate tombstone ids, which the read-side
    * `distinct` collapses — and takedown is STICKY until compaction,
    * so a popped id re-ingested before cleanup stays hidden (exactly
    * what a right-to-be-forgotten request wants under upstream
    * re-crawls). Crash order: the tombstone append is the batch's only
    * write, so a crash either lost it (replay repairs) or landed it
    * whole — there is no between-inserts window.
    */
  def takedownDocs(
      requests: DataFrame, table: String, compactEvery: Int = 0)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    ingestInto(requests) { (batch, batchId) =>
      val spark = batch.sparkSession
      graft.sources.DocStore.popIds(spark, table, batch)
      if (compactEvery > 0 && batchId % compactEvery == compactEvery - 1 &&
          graft.sources.Tombstones.of(table).pending(spark))
        graft.sources.DocStore.compact(spark, table)
    }

  /** st16's embedding twin: pop requests against a live
    * [[graft.sources.VecStore]] — tombstones per micro-batch
    * ([[graft.sources.VecStore.popIds]]), immediate exclusion from
    * `nearDupVerdicts`/`ivfTopK`/`ivfPqTopK` (including the codes
    * scan), physical vector+codes cleanup at the compact cadence.
    * Same replay/crash/concurrent-ingest contract as [[takedownDocs]].
    */
  def takedownVecs(
      requests: DataFrame, table: String, compactEvery: Int = 0)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    ingestInto(requests) { (batch, batchId) =>
      val spark = batch.sparkSession
      graft.sources.VecStore.popIds(spark, table, batch)
      if (compactEvery > 0 && batchId % compactEvery == compactEvery - 1 &&
          graft.sources.Tombstones.of(table).pending(spark))
        graft.sources.VecStore.compact(spark, table)
    }

  /** st16b — the SOURCE-grain takedown: right-to-be-forgotten
    * requests at corpus grain (a crawl, a dump, a dataset) pop the
    * source from its summary telemetry ([[graft.sources.SketchStore]],
    * [[graft.sources.TopKStore]] — [[graft.sources.SummaryStore.pop]])
    * and its xref judgement + derived mapping rows
    * ([[graft.sources.XrefStore.popDataset]] — a judgement row names
    * the forgotten entities on either side, so it goes wholesale).
    * Every store follows the [[graft.sources.Tombstones]] protocol:
    * immediate read-side exclusion, physical cleanup when the cadence
    * tick finds tombstones pending — plus, for xref, the mapping's
    * full-resolver rebuild (losing a dataset's positives can split
    * components). A summary batch replayed after that compact stays
    * behind the store's fold horizon, so a popped source stays gone.
    * Same replay/crash contract as [[takedownDocs]].
    *
    * `requests` carries one `source` column; each store is optional.
    * Keep `compactEvery` = 0 when the same tables are compacted by
    * their ingest streams' cadence (the two-compactors race rule of
    * [[takedownDocs]]).
    */
  def takedownSources(
      requests: DataFrame,
      sketchTable: Option[String] = None,
      xrefTable: Option[String] = None,
      topkTable: Option[String] = None,
      k: Int = 16384,
      topkCapacity: Int = 4096,
      compactEvery: Int = 0)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    ingestInto(requests) { (batch, batchId) =>
      val spark = batch.sparkSession
      sketchTable.foreach(t =>
        graft.sources.SketchStore.pop(spark, t, batch))
      xrefTable.foreach(t => graft.sources.XrefStore.popDataset(
        spark, t, batch.select(col("source").as("dataset"))))
      topkTable.foreach(t =>
        graft.sources.TopKStore.pop(spark, t, batch))
      if (compactEvery > 0 && batchId % compactEvery == compactEvery - 1) {
        def pending(t: String) = graft.sources.Tombstones.of(t).pending(spark)
        sketchTable.filter(pending)
          .foreach(t => graft.sources.SketchStore.compact(spark, t, k))
        // compact rewrites at the store's creation bucket count
        // (BucketedLayout's creation rule), so none is passed
        xrefTable
          .filter(t => graft.sources.Tombstones.ofDatasets(t).pending(spark))
          .foreach(t => graft.sources.XrefStore.compact(spark, t))
        topkTable.filter(pending)
          .foreach(t =>
            graft.sources.TopKStore.compact(spark, t, topkCapacity))
      }
    }

  /** The telemetry writers' loop (st18, st20, st22, st23): fold each
    * micro-batch into its [[graft.sources.SummaryStore]] face at
    * `ver = batchId`, and compact on every `compactEvery`-th batch —
    * the staged-swap OPTIMIZE that bounds fold-at-read cost; serves are
    * invariant across it. Replays need no coordination: the store's
    * visibility rule counts a batch replayed before its compact once
    * and hides one replayed after it.
    */
  private def foldOnCadence(stream: DataFrame, compactEvery: Int)(
      apply: (SparkSession, DataFrame, Long) => Unit,
      compact: SparkSession => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    ingestInto(stream) { (batch, batchId) =>
      apply(batch.sparkSession, batch, batchId)
      if (compactEvery > 0 && batchId % compactEvery == compactEvery - 1)
        compact(batch.sparkSession)
    }

  /** st18 — streaming CARDINALITY telemetry: the q25 KMV sketch per
    * source ([[graft.sources.SketchStore]]), served by
    * [[graft.sources.SketchStore.readEstimates]] as "distinct shingles
    * per source, ever" without a corpus rescan — the mix-drift monitor
    * a continuously-ingesting training pipeline wants (a source whose
    * cardinality curve goes flat is re-sending old content; one that
    * jumps is a new crawl).
    */
  def sketchCardinality(
      docs: DataFrame, table: String, k: Int = 16384,
      compactEvery: Int = 0)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    foldOnCadence(docs, compactEvery)(
      graft.sources.SketchStore.applyBatch(_, _, table, k, _),
      graft.sources.SketchStore.compact(_, table, k))

  /** st20 — streaming HEAVY-HITTERS telemetry: the q23 Misra–Gries
    * summary per source ([[graft.sources.TopKStore]]), served by
    * [[graft.sources.TopKStore.readTopK]] as "which terms dominate each
    * source, ever" — cardinality tells you a source DRIFTED, the head
    * terms tell you INTO WHAT.
    */
  def topkTelemetry(
      docs: DataFrame, table: String, capacity: Int = 4096,
      compactEvery: Int = 0)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    foldOnCadence(docs, compactEvery)(
      graft.sources.TopKStore.applyBatch(_, _, table, capacity, _),
      graft.sources.TopKStore.compact(_, table, capacity))

  /** st22 — streaming QUANTILE telemetry: the q30 KLL sketch of
    * document token counts per source ([[graft.sources.QuantileStore]]),
    * served by [[graft.sources.QuantileStore.readQuantiles]] as "the
    * live p50/p95/p99 document length per source, ever" — whether a
    * source's SHAPE changed (truncation, spam padding and boilerplate
    * floods move the tails first).
    */
  def quantileTelemetry(
      docs: DataFrame, table: String, k: Int = 4096,
      compactEvery: Int = 0)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    foldOnCadence(docs, compactEvery)(
      graft.sources.QuantileStore.applyBatch(_, _, table, k, _),
      graft.sources.QuantileStore.compact(_, table, k))

  /** st23 — streaming AUDIENCE telemetry: the q33 user bitmap per event
    * type ([[graft.sources.BitmapStore]]), served by
    * [[graft.sources.BitmapStore.readAudience]] as "exactly which users
    * has this event type reached, ever" — the EXACT id set where
    * st18/st20/st22 sketch, and so the one telemetry face with
    * user-grain deletion ([[graft.sources.BitmapStore.popUsers]]).
    */
  def audienceTelemetry(
      events: DataFrame, table: String, compactEvery: Int = 0)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    foldOnCadence(events, compactEvery)(
      graft.sources.BitmapStore.applyBatch(_, _, table, _),
      graft.sources.BitmapStore.compact(_, table))

  /** st25 — streaming GRAPH ingest with served analytics: an edge
    * stream (columns `src`, `dst`) folds into a [[graft.sources
    * .GraphStore]] per micro-batch, and every `refreshEvery` batches
    * the store recomputes its rank/community tables off the critical
    * path of the append — "which entities anchor the graph we have
    * ingested SO FAR" served at point-lookup cost at any moment, with
    * the staleness VISIBLE (`GraphStore.staleness`). The replay story
    * is structural (an edge set is a SET — the st18 algebra): a
    * replayed micro-batch appends rows the distinct-at-read absorbs,
    * so the refreshed analytics are bit-identical with NO version
    * dedup; the version stamp exists only for staleness accounting.
    * Node takedowns ([[graft.sources.GraphStore.pop]]) mask every
    * serve immediately mid-stream and scrub physically at the next
    * refresh tick — the st16 takedown contract at graph grain.
    */
  def graphTelemetry(
      edges: DataFrame, table: String, refreshEvery: Int = 0,
      iters: Int = 10, minSupport: Long = 2L, lpRounds: Int = 10,
      kcoreK: Long = 3L, kcoreRounds: Int = 10, compactEvery: Int = 0)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    ingestInto(edges) { (batch, batchId) =>
      val spark = batch.sparkSession
      graft.sources.GraphStore.append(batch, table, batchId)
      if (refreshEvery > 0 && batchId % refreshEvery == refreshEvery - 1) {
        // an append-only tick never rewrites the edge table (the r15
        // decoupling — summaries read the live set either way); the
        // rewrite runs when a takedown is pending (scrub + retire is
        // the st16 contract) or on the explicit compactEvery cadence
        // (duplicate-row collapse, the st13 compaction discipline)
        val delsPending = graft.sources.Tombstones.of(table).pending(spark)
        val compactTick =
          compactEvery > 0 && batchId % compactEvery == compactEvery - 1
        graft.sources.GraphStore.refresh(spark, table, iters, minSupport,
          lpRounds, kcoreK = kcoreK, kcoreRounds = kcoreRounds,
          compactEdges = delsPending || compactTick)
      }
    }

  /** st17 — streaming windowed ATTRIBUTION: q24's interval join at
    * stream grain — two unbounded event streams joined on key +
    * event-time range through Spark's NATIVE stream-stream inner
    * join. Each window-opening row (a "view") spans the half-open
    * `[ts, ts + windowSpan)`; every same-key point row inside it
    * emits a match, exactly the q24 output columns.
    *
    * Why no custom state: Spark derives the state-cleanup constraint
    * FROM the range condition — a buffered view row stops being
    * joinable once the point-side watermark passes `w_ts +
    * windowSpan`, and a buffered point once the view-side watermark
    * passes its ts, so both sides' join state stays finite on
    * unbounded streams with no `mapGroupsWithState` hand-rolling.
    * Declaring the predicate and letting the engine manage eviction
    * is the repo's Spark-first rule applied to streaming joins; the
    * batch twin needs the bin decomposition (q24/RewriteRangeJoin)
    * because it joins two CORPUS-sized sides at once, while the
    * stream meets only watermark-bounded slices — same semantics,
    * different scale shape, both declarative.
    *
    * Late data beyond the watermark drops (spec-asserted) — the
    * at-most-once attribution a replayed upstream wants. Output is
    * append-mode (inner join emits each match exactly once).
    */
  def attributionJoin(
      points: DataFrame, windows: DataFrame,
      windowSpan: String = "2 hours",
      watermark: String = "10 minutes"): DataFrame = {
    val w = windows
      .withWatermark("ts", watermark)
      .select(col("event_id").as("imp_id"), col("user_id").as("w_user"),
        col("ts").as("w_ts"))
    points
      .withWatermark("ts", watermark)
      .join(w,
        col("user_id") === col("w_user") &&
          col("ts") >= col("w_ts") &&
          col("ts") < col("w_ts") + expr(s"INTERVAL $windowSpan"))
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("imp_id"),
        (unix_micros(col("ts")) - unix_micros(col("w_ts"))).as("gap_us"))
  }

  /** st15 — the streaming RESOLVER: a judgement stream maintains the
    * canonical mapping continuously ([[graft.sources.XrefStore
    * .applyBatch]] per micro-batch), closing the last batch-only
    * maintenance loop — st9 streamed judgements into the store but
    * canonicalization stayed a full-graph recompute. Each batch lands
    * in the xref table + `_reverse` first (the authoritative rows),
    * then folds into the versioned `_mapping` table: the O(component)
    * delta append on positive batches (batch-sized driver union-find
    * + the merged components' relabeled rows at ver=batchId), the
    * exact-trigger full-recompute fallback on retractions.
    * [[graft.sources.XrefStore.readMapping]] serves the live map at
    * any point; replays append an empty delta (endpoints already
    * merged), so restarts need no coordination. Spec: the served
    * mapping equals a from-scratch [[graft.operators.Xref
    * .resolverMapping]] after every micro-batch, through merges,
    * fresh components, AND a mid-stream retraction.
    */
  def ingestXrefResolved(
      judgements: DataFrame, table: String, buckets: Int = 64)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    ingestInto(judgements)((batch, batchId) =>
      graft.sources.XrefStore.applyBatch(
        batch.sparkSession, batch, table, batchId, buckets))

  /** st10 — streaming contamination guard: every incoming document is
    * scored against a STATIC probe n-gram set (the eval/benchmark
    * suite) as it arrives — the continuous-ingest face of batch t5,
    * gating training data BEFORE it lands instead of auditing it
    * after.
    *
    * Scale shape: the probe grams are collected ONCE at stream build
    * into a sorted hash array (bounded: probe sets are eval-suite
    * sized — exactly batch t5's broadcast regime; for probe sets past
    * broadcast comfort the batch path with its bloom pushdown is the
    * tool), and each document is scored by ONE compiled per-row pass —
    * `graft_ngram_hashes` (sorted, deduped) merged against the probe
    * array by the native sorted-intersect. Stateless: no watermark, no
    * shuffle, no state store — a micro-batch is a scan projection, so
    * stream throughput equals batch scan throughput.
    */
  def contaminationStream(
      docs: DataFrame, probes: DataFrame, n: Int = 8): DataFrame = {
    import graft.functions.SortedIntersectSizeExpression
    import graft.operators.TextAnalysis.gramHashesCol
    // default n matches batch contamination EXACTLY — a caller pairing
    // the batch audit with the streaming guard on defaults must get
    // the same gram size (r8 review); the hashing itself is the shared
    // gramHashesCol definition, so parity cannot drift one-sided
    val probeArr: Array[Long] = probes
      .select(explode(gramHashesCol(n)).as("h"))
      .distinct().orderBy(col("h"))
      .collect().map(_.getLong(0))
    // ngramHashes emits hashes in document order — sort per row so the
    // linear merge sees two sorted arrays
    val sortedGrams = array_sort(array_distinct(gramHashesCol(n)))
    docs.select(col("doc_id"), col("ts"),
      SortedIntersectSizeExpression.sortedIntersectSize(
        sortedGrams, typedLit(probeArr)).as("n_overlapping"))
      .filter(col("n_overlapping") > 0)
  }

  /** st11 — continuous-ingest face of the composed preprocess (p1):
    * the signal projection, the language/quality gates, and the
    * deterministic sampling keep-test are all stateless per-row
    * computations (shared with the batch form via
    * [[graft.operators.Preprocess.scoredGated]]), so they run at
    * micro-batch scan throughput with no state at all. Only exact
    * dedup needs state: streaming `dropDuplicates` on the content
    * hash, bounded by the watermark — the state store holds one
    * (hash, timestamp) entry per distinct surviving document inside
    * the horizon, and the canonical representative is the FIRST
    * ARRIVAL rather than batch p1's min doc_id (the one semantic a
    * stream cannot reproduce without unbounded state; `n_dups` is
    * likewise absent — a later copy is dropped, not counted).
    * Docs must carry an event-time `ts` column.
    */
  def preprocessStream(
      docs: DataFrame,
      watermark: String = "10 minutes",
      minStopwordRatio: Double = 0.02,
      maxPunctRatio: Double = 0.3,
      rates: Map[String, Double] = Map("en" -> 0.5),
      defaultRate: Double = 1.0): DataFrame = {
    val gated = graft.operators.Preprocess.scoredGated(
      docs, minStopwordRatio, maxPunctRatio, carry = Seq("ts"))
    // WithinWatermark variant (same as st2): plain dropDuplicates on a
    // key subset without the event-time column would keep its state
    // forever — this one evicts a hash's entry once the watermark
    // passes its first arrival, which is what bounds the state store
    val deduped = gated
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("content_hash")
    graft.operators.Sampling.stratified(
      deduped, col("pred_lang"), col("doc_id"), rates, defaultRate)
      .select(col("doc_id"), col("lang"), col("pred_lang"),
        col("stopword_ratio"), col("punct_ratio"), col("bpe_tokens"),
        col("ts"))
  }

  final case class BandRow(
    doc_id: Long, ts: java.sql.Timestamp, band: Int, key: String)
  final case class BandState(first_doc_id: Long, last_seen_ms: Long)
  final case class NearDupHit(
    doc_id: Long, band: Int, key: String, first_doc_id: Long)

  /** st12 — streaming NEAR-dup guard: the continuous-ingest face of
    * batch d3 (MinHash-LSH). Each arriving document expands to its LSH
    * band keys inside the micro-batch scan — the SAME kernel and band
    * shape as batch d3 ([[graft.operators.Dedup.bandKeys]]), so a batch
    * backfill and the live stream compute identical keys — and a keyed
    * state store remembers, per band key, the FIRST document that
    * claimed it inside the horizon. Every later arrival sharing a key
    * emits a candidate row against that first claimant (d3's bucket
    * semantics; exact Jaccard verification joins the texts downstream,
    * exactly as in batch — and a pair colliding in several bands emits
    * one row per band, batch d3's pre-distinct stream).
    *
    * State is ONE small record per distinct band key with activity
    * inside the horizon, evicted on event-time timeout `horizonMs`
    * after the key's last activity once the watermark passes — bounded
    * by per-horizon key cardinality, never corpus history. Arrival
    * order decides the first claimant (ties within a micro-batch break
    * deterministically by (ts, doc_id)); a late-but-earlier event
    * cannot retract an already-claimed key — the st11 first-arrival
    * semantic, the one a bounded-state stream cannot share with batch.
    */
  def nearDupStream(
      docs: DataFrame,
      watermark: String = "10 minutes",
      horizonMs: Long = 10 * 60 * 1000): Dataset[NearDupHit] = {
    import docs.sparkSession.implicits._
    import graft.operators.Dedup
    val bands = docs
      .filter(size(Dedup.words(col("text"))) >= 3)
      .withWatermark("ts", watermark)
      .select(col("doc_id"), col("ts"),
        posexplode(Dedup.bandKeys(col("text"))))
      .select(col("doc_id"), col("ts"), col("pos").as("band"),
        col("col").as("key"))
      .as[BandRow]
    bands
      .groupByKey(r => (r.band, r.key))
      .flatMapGroupsWithState[BandState, NearDupHit](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_: (Int, String), it: Iterator[BandRow],
            state: GroupState[BandState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val rows = it.toSeq.sortBy(r => (r.ts.getTime, r.doc_id))
            // timeout processing only fires for keys with NO data in
            // the batch — a key idle past the horizon then revived in
            // one batch would resurrect its stale claimant. Expire by
            // the watermark directly so the horizon holds regardless
            // of timeout scheduling.
            val wm = state.getCurrentWatermarkMs()
            val live = state.getOption
              .filter(_.last_seen_ms + horizonMs >= wm)
            val (st, later) = live match {
              case Some(s) => (s, rows)
              case None =>
                val head = rows.head
                (BandState(head.doc_id, head.ts.getTime), rows.tail)
            }
            val lastMs = (st.last_seen_ms +: rows.map(_.ts.getTime)).max
            state.update(BandState(st.first_doc_id, lastMs))
            state.setTimeoutTimestamp(lastMs + horizonMs)
            later.iterator
              .filter(_.doc_id != st.first_doc_id)
              .map(r => NearDupHit(r.doc_id, r.band, r.key, st.first_doc_id))
          }
      }
  }

  final case class FunnelEvt(user_id: Long, ts: java.sql.Timestamp, step: Int)
  final case class FunnelState(best_depth: Int, events: Seq[(Long, Int)])
  final case class FunnelOut(user_id: Long, funnel_depth: Long)

  /** st19 — the STREAMING funnel: q26's `windowFunnel` depth served
    * continuously per user ([[graft.functions.WindowFunnelAggregate]]
    * semantics exactly — non-decreasing-ts chains within `windowMs`
    * of the chain's first step). Custom state via
    * flatMapGroupsWithState, and the state bound is EXACT, not a
    * heuristic: a chain spans at most `windowMs`, and Spark drops
    * events below the watermark, so any chain involving a FUTURE
    * event lies entirely at ts ≥ watermark − windowMs — buffered
    * events older than that can never join another chain and evict
    * losslessly. State per active user = (monotone best depth, the
    * events inside that horizon); every batch re-runs the shared
    * greedy kernel over the bounded buffer and emits the user's
    * updated depth. Chains SPANNING micro-batches are found (the
    * buffer holds the live horizon), and a late event beyond the
    * watermark is dropped by the engine before it can corrupt a
    * depth — the at-most-once contract of st17 (spec-asserted).
    * Idle users time out `windowMs` past their last event once the
    * watermark passes: every still-possible chain has closed, the
    * final depth was already emitted.
    */
  def funnelStream(
      events: DataFrame,
      nSteps: Int = 3,
      windowMs: Long = 3600 * 1000L,
      watermark: String = "10 minutes"): Dataset[FunnelOut] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermark)
      .select(col("user_id").cast("long").as("user_id"), col("ts"),
        col("step").cast("int").as("step"))
      .as[FunnelEvt]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, FunnelOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, it: Iterator[FunnelEvt], state: GroupState[FunnelState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val incoming = it
              .filter(e => e.step >= 1 && e.step <= nSteps)
              .map(e => (e.ts.getTime, e.step)).toSeq
            if (incoming.isEmpty) Iterator.empty
            else {
              val prev = state.getOption.getOrElse(FunnelState(0, Nil))
              val all = prev.events ++ incoming
              val depth = math.max(prev.best_depth.toLong,
                graft.functions.WindowFunnelAggregate
                  .depth(all, nSteps, windowMs)).toInt
              // exact eviction: below watermark − window nothing can
              // chain with a future (≥ watermark) event
              val wm = state.getCurrentWatermarkMs()
              val kept = all.filter(_._1 >= wm - windowMs)
              val lastMs = all.map(_._1).max
              state.update(FunnelState(depth, kept))
              state.setTimeoutTimestamp(lastMs + windowMs)
              Iterator.single(FunnelOut(uid, depth.toLong))
            }
          }
      }
  }

  final case class SeqEvt(user_id: Long, ts: java.sql.Timestamp, step: Int)
  final case class SeqCountState(
      levels: Seq[Long], n_chains: Long, pending: Seq[(Long, Int)])
  final case class SeqCountOut(
      user_id: Long, n_chains: Long, n_chains_provisional: Long)

  /** st21 — the STREAMING sequence counter: q27b's `sequenceCount`
    * (non-overlapping chains under a per-adjacent-step gap bound)
    * served continuously per user. The state story is the POINT of
    * this operator, and it is strictly stronger than st19's: the
    * funnel stream keeps its horizon's matching EVENTS because a new
    * event can re-anchor a chain's start; the sequence fold's DP
    * state is just `levels` (the latest timestamp completing each
    * prefix — [[graft.functions.SequenceAggregate.resume]]) plus the
    * running count, so everything the watermark has FINALIZED
    * collapses into `nSteps − 1` longs and the events are discarded.
    * Per-user state = those longs (kept forever — the honest price of
    * an "ever" counter, the same class as any cumulative per-user
    * aggregate) + a pending buffer of events still ABOVE the
    * watermark (reorder-horizon-bounded by the engine's late-drop).
    *
    * Two counts are emitted per update, with different contracts:
    * `n_chains` folds only watermark-FINALIZED events — deterministic,
    * monotone, replay-stable, and ≡ the batch q27b aggregate over the
    * finalized slice (spec-asserted); `n_chains_provisional` also
    * folds the pending buffer on a COPY of the levels — it equals the
    * batch answer over everything delivered when arrivals are in
    * order (spec-asserted), but an out-of-order arrival inside the
    * horizon may revise it (why it is labeled provisional; the
    * finalized count never revises). A late event beyond the
    * watermark drops before it can move either count (the st17/st19
    * at-most-once contract).
    *
    * An event-time timeout `(nSteps − 1) × gap` past the last event
    * flushes the pending buffer into the finalized state once the
    * watermark passes it (no data needed), so counts do not lag idle
    * users; the state itself is never removed.
    */
  def sequenceCountStream(
      events: DataFrame,
      nSteps: Int = 3,
      gapMs: Long = 1800 * 1000L,
      watermark: String = "10 minutes"): Dataset[SeqCountOut] = {
    import events.sparkSession.implicits._
    import graft.functions.SequenceAggregate
    val width = math.max(nSteps - 1, 1)
    events
      .withWatermark("ts", watermark)
      .select(col("user_id").cast("long").as("user_id"), col("ts"),
        col("step").cast("int").as("step"))
      .as[SeqEvt]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SeqCountState, SeqCountOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, it: Iterator[SeqEvt], state: GroupState[SeqCountState]) =>
          val prev = state.getOption.getOrElse(SeqCountState(
            Seq.fill(width)(SequenceAggregate.UnsetLevel), 0L, Nil))
          val incoming = it
            .filter(e => e.step >= 1 && e.step <= nSteps)
            .map(e => (e.ts.getTime, e.step)).toSeq
          if (incoming.isEmpty && !state.hasTimedOut &&
              prev.pending.isEmpty) Iterator.empty
          else {
            val wm = state.getCurrentWatermarkMs()
            val all = (prev.pending ++ incoming).sorted
            val (fin, pend) = all.partition(_._1 < wm)
            val levels = prev.levels.toArray
            val n = SequenceAggregate.resume(
              levels, prev.n_chains, fin, nSteps, gapMs)
            val provLevels = levels.clone()
            val prov = SequenceAggregate.resume(
              provLevels, n, pend, nSteps, gapMs)
            state.update(SeqCountState(levels.toSeq, n, pend))
            if (incoming.nonEmpty) {
              // flush tick: once the watermark passes every pending
              // event (+ the widest chain span), fold them without
              // waiting for new data
              val lastMs = incoming.map(_._1).max
              state.setTimeoutTimestamp(
                math.max(lastMs, wm) + gapMs * width + 1L)
            }
            Iterator.single(SeqCountOut(uid, n, prov))
          }
      }
  }

  final case class ConcEvt(user_id: Long, ts: java.sql.Timestamp)
  final case class ConcState(
      conc: Long, peak: Long, peak_at: Long,
      open_ends: Seq[Long], pending: Seq[Long])
  final case class ConcOut(
      user_id: Long, max_concurrent: Long, at_ms: Long, conc_now: Long,
      max_concurrent_provisional: Long)

  /** st24 — STREAMING max-concurrent telemetry: q34's sweep-line peak
    * ("how many windows has this user ever had open at once, and
    * when") served continuously. Each view event opens a half-open
    * window [ts, ts+W); the sweep deltas are DERIVED — the event's +1
    * at ts and its −1 at ts+W, which lies in the future when the
    * event arrives — so the state is exactly the sweep's open
    * obligations: `open_ends` (the −1s the watermark has not passed;
    * window-population-bounded, the st19 class), the frontier
    * `(conc, peak, peak_at)` (three longs — everything the watermark
    * HAS passed collapses, the st21 class), and the reorder buffer of
    * pending starts. Ties order ends before starts (half-open: a
    * window ending at t does not overlap one starting at t — the q34
    * rule, spec-pinned).
    *
    * Contracts (the st21 dual-serve discipline): `max_concurrent` /
    * `at_ms` fold only watermark-FINALIZED deltas — deterministic,
    * monotone, replay-stable, ≡ the batch q34 sweep over the
    * finalized slice (spec-asserted); `max_concurrent_provisional`
    * also folds the pending starts and open ends on a COPY — equals
    * the batch answer over everything delivered when arrivals are in
    * order, but may revise within the horizon. A late event beyond
    * the watermark drops before it can move either face. An
    * event-time timeout at the last open end flushes the sweep once
    * the watermark passes it, so an idle user's finalized peak
    * catches up without new data (state itself is never removed —
    * the honest price of an "ever" peak).
    */
  def maxConcurrentStream(
      views: DataFrame,
      windowMs: Long = 7200 * 1000L,
      watermark: String = "10 minutes"): Dataset[ConcOut] = {
    import views.sparkSession.implicits._
    views
      .withWatermark("ts", watermark)
      .select(col("user_id").cast("long").as("user_id"), col("ts"))
      .as[ConcEvt]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[ConcState, ConcOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, it: Iterator[ConcEvt], state: GroupState[ConcState]) =>
          val prev = state.getOption.getOrElse(
            ConcState(0L, 0L, 0L, Nil, Nil))
          val incoming = it.map(_.ts.getTime).toSeq
          if (incoming.isEmpty && !state.hasTimedOut &&
              prev.pending.isEmpty && prev.open_ends.isEmpty)
            Iterator.empty
          else {
            val wm = state.getCurrentWatermarkMs()
            val starts = (prev.pending ++ incoming).sorted
            val (finStarts, carry) = starts.partition(_ < wm)
            // ends exist only once their start finalized (a pending
            // start's end is > start ≥ wm by construction)
            val allEnds = prev.open_ends ++ finStarts.map(_ + windowMs)
            val (finEnds, openEnds) = allEnds.partition(_ < wm)
            // sweep: −1 sorts before +1 at equal t — half-open [s, e)
            def sweep(
                from: (Long, Long, Long),
                deltas: Seq[(Long, Long)]): (Long, Long, Long) = {
              var (conc, peak, at) = from
              deltas.sorted.foreach { case (t, d) =>
                conc += d
                if (conc > peak) { peak = conc; at = t }
              }
              (conc, peak, at)
            }
            val fin = sweep((prev.conc, prev.peak, prev.peak_at),
              finStarts.map((_, 1L)) ++ finEnds.map((_, -1L)))
            val prov = sweep(fin,
              carry.map((_, 1L)) ++ carry.map(s => (s + windowMs, -1L)) ++
                openEnds.map((_, -1L)))
            state.update(ConcState(fin._1, fin._2, fin._3,
              openEnds, carry))
            val lastObligation =
              (openEnds ++ carry.map(_ + windowMs)).foldLeft(0L)(math.max)
            if (lastObligation > 0L)
              state.setTimeoutTimestamp(math.max(lastObligation, wm) + 1L)
            Iterator.single(
              ConcOut(uid, fin._2, fin._3, fin._1, prov._2))
          }
      }
  }

  final case class Evt(user_id: Long, ts: java.sql.Timestamp, value: Double)
  final case class SessionState(start: Long, end: Long, n: Long, sum: Double)
  final case class SessionOut(
      user_id: Long, start_ms: Long, end_ms: Long, n_events: Long, sum_value: Double)

  /** st3 — gap-based sessionization: per-user sessions close after
    * `gapMs` of event-time silence and are emitted exactly once (on
    * event-time timeout). Custom state via flatMapGroupsWithState —
    * state is one small record per active user, evicted at timeout.
    */
  def sessionize(events: Dataset[Evt], gapMs: Long): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, it: Iterator[Evt], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(SessionOut(user, s.start, s.end, s.n, s.sum))
          } else {
            val evts = it.toSeq
            val mn = evts.map(_.ts.getTime).min
            val mx = evts.map(_.ts.getTime).max
            val sm = evts.map(_.value).sum
            val merged = state.getOption
              .map(s => SessionState(math.min(s.start, mn),
                math.max(s.end, mx), s.n + evts.size, s.sum + sm))
              .getOrElse(SessionState(mn, mx, evts.size.toLong, sm))
            state.update(merged)
            state.setTimeoutTimestamp(merged.end + gapMs)
            Iterator.empty
          }
      }
  }
}
