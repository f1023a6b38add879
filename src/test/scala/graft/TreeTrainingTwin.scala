package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Fixpoint}

/** The declarative twin of [[graft.operators.Similarity.trainTree]]:
  * the tree quantizer's training as Spark DataFrames (checkpointed
  * centroid-grain tables, a broadcast crossJoin per Lloyd step, a
  * struct `min_by` argmin and a posexplode/avg refine). The driver
  * trainer must make every choice this form makes; PipelineSpec holds
  * the two to the same leaf maps and to tops within summation drift.
  * The caller releases the two returned checkpoints.
  */
object TreeTrainingTwin {

  def treeQuantizer(
      cents0: DataFrame, topCount: Int): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    // the d12 checkpoint discipline: every table here is CENTROID
    // grain (≤ L rows), but each is consumed by several downstream
    // branches — checkpointing runs the training subtree once and
    // keeps the final plan's Exchange count flat in consumer count
    val cents = cents0.localCheckpoint()
    // seeds: topCount lowest-list_id leaves, top_id = 0..topCount-1 in
    // list_id order. limit-first = distributed TakeOrdered (no global
    // sort of the L centroids); the unpartitioned window then runs
    // over ≤ topCount rows — the s5 driver-bounded-seed discipline.
    val seeds =
      cents.select(col("list_id"), col("centroid"))
        .orderBy(col("list_id")).limit(topCount)
        .withColumn("top_id",
          row_number().over(Window.orderBy(col("list_id")))
            .cast("long") - 1L)
        .select(col("top_id"), col("centroid").as("sc"),
          sqrt(Dedup.dot(col("centroid"), col("centroid"))).as("sn"))
    val leafN = cents.select(col("list_id"), col("centroid"),
      sqrt(Dedup.dot(col("centroid"), col("centroid"))).as("ln"))
    def assignTo(tops: DataFrame): DataFrame =
      leafN.crossJoin(broadcast(tops))
        .withColumn("d", round(Dedup.cosineWithNorms(
          col("centroid"), col("sc"), col("ln"), col("sn")), 4))
        .groupBy(col("list_id"))
        .agg(
          min_by(col("top_id"), struct((-col("d")).as("nd"), col("top_id")))
            .as("top_id"),
          first(col("centroid")).as("centroid"))
    // one Lloyd step: seed assignment → dim-major member mean
    val tops = assignTo(seeds)
      .select(col("top_id"), posexplode(col("centroid")))
      .groupBy(col("top_id"), col("pos"))
      .agg(avg(col("col")).as("m"))
      .groupBy(col("top_id"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
        e => e.getField("m")).as("centroid"))
      .localCheckpoint()
    val topN = tops.select(col("top_id"), col("centroid").as("sc"),
      sqrt(Dedup.dot(col("centroid"), col("centroid"))).as("sn"))
    val leafMap = assignTo(topN).select(col("list_id"), col("top_id"))
      .localCheckpoint()
    // both results are eager checkpoints of their own: the training
    // copy is no longer read by anything (the caller owns the two
    // returned frames)
    Fixpoint.release(cents)
    (tops, leafMap)
  }
}
