package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Incrementally-maintained aggregate view over a stream — the
  * materialized-view pattern the reference's mart would need to stay fresh
  * without batch recomputation: each micro-batch appends its PARTIAL
  * per-(event_type, day) aggregate, tagged with the micro-batch id, and
  * the view read re-combines partials.
  *
  * Exactly-once additive maintenance over at-least-once foreachBatch: a
  * replayed micro-batch (crash before checkpoint commit, or a full
  * re-run from a fresh checkpoint over the same input) re-derives the
  * SAME batch id, and the left-anti probe against already-landed batch
  * ids appends nothing — counts can never double. This is the additive
  * analog of [[Ingest]]'s per-row hash dedup: rows there, batch-grained
  * partials here, because an aggregate has no per-row identity to hash.
  *
  * Scale shape: each batch ships one partial-aggregate shuffle (map-side
  * combine first); the store grows by O(groups) per batch, not O(rows);
  * the view read is a metadata-cardinality aggregation over partials.
  * Partial sums ride the decimal carrier, so view totals are identical
  * regardless of how the input was sliced into batches — the property the
  * oracle checks by aggregating the raw table in one shot.
  */
object MatView {

  /** Per-batch partial aggregate of the normalized events stream. */
  private[streaming] def partialAgg(batch: DataFrame): DataFrame =
    batch
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,6)")).as("total"))

  /** Start maintaining the view store at `storeDir`. */
  def start(events: DataFrame, storeDir: String,
            checkpointDir: String): StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val partial = partialAgg(batch).withColumn("batch_id", lit(batchId))
        val fresh = graft.plans.IdaMart.readStoreIfExists(spark, storeDir) match {
          case Some(ex) => partial.join(
            ex.select(col("batch_id")).distinct(), Seq("batch_id"), "left_anti")
          case None => partial
        }
        fresh.write.mode("append").parquet(storeDir)
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()

  /** The view: partials recombined. Decimal partial sums re-sum to the
    * exact one-shot aggregate at any batch slicing. */
  def readView(spark: SparkSession, storeDir: String): DataFrame =
    spark.read.parquet(storeDir)
      .groupBy(col("event_type"), col("day"))
      .agg(sum(col("n")).as("n"),
        sum(col("total")).cast("double").as("total"))
}
