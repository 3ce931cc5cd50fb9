package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger

import graft.operators.CdcUpsert

/** q337 — STREAMING CDC UPSERT INGEST. The drain half of
  * [[graft.operators.CdcUpsert]]: three CDC micro-batches (each
  * carrying inserts AND updates AND deletes) arrive as staged
  * single-file slices and drain through `foreachBatch` +
  * `Trigger.AvailableNow`; every trigger executes the ONE shared
  * [[CdcUpsert.applyTick]] — an append commit + a routed MoR delete
  * artifact + a manifest version, all idempotent dynamic partition
  * overwrites — so every batch boundary is a time-travelable
  * snapshot and a replayed trigger lands byte-identical artifacts
  * (CdcUpsertSpec re-runs one and asserts it).
  *
  * Arrival files are mtime-spaced so the drain SEES them in order,
  * but correctness never depends on it (the q314/q328 rule): the
  * tick rides IN the data, and out-of-order delivery trips the
  * monotone-delivery `require` inside applyTick rather than
  * publishing a version that resolves to an unwritten commit. */
object StreamCdcUpsert {

  /** q337: drain the CDC feed into the versioned table, then read
    * every version through the shared merge-on-read path. The oracle
    * re-derives each version's n_rows / sum_price / n_live_deletes
    * from the tick predicates; the spec asserts the physical half
    * (partition pruning, replay byte-stability, order-gap failure). */
  def q337StreamCdcUpsert(spark: SparkSession, dir: String): DataFrame =
    StreamingWindows.withStreamPartitions(spark) {
      CdcUpsert.initBase(spark, dir)
      val zone = StreamingWindows.stageArrivals(spark, dir, "q337_cdc",
        CdcUpsert.Ticks.map(tk =>
          s"tick_${tk.t}.parquet" -> CdcUpsert.tickRows(spark, dir, tk)))
      val schema = CdcUpsert.tickRows(spark, dir,
        CdcUpsert.Ticks.head).schema
      val src = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(zone)
      val query = src.writeStream
        .option("checkpointLocation", s"$zone/_checkpoint")
        .foreachBatch((batch: DataFrame, _: Long) =>
          CdcUpsert.applyTick(batch))
        .trigger(Trigger.AvailableNow())
        .start()
      query.awaitTermination()
      CdcUpsert.versionReport(spark)
    }
}
