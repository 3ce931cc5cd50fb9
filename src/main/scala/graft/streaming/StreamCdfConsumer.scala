package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{CdcUpsert, Scale, TableFormat}

/** q345 — STREAMING CONSUMPTION OF THE ROW-LEVEL CHANGE FEED, closing
  * the CDC loop the r12 tier opened: q337 ingests upserts (CDC-in),
  * q338 derives row-level `_change_type` rows per commit (CDF-out),
  * and this consumer is the DOWNSTREAM system every real CDF exists
  * for — a standing job that tails the commit log and maintains its
  * own state from the per-record changes, never re-reading the
  * table. q328 proved the pattern for SEGMENT-level signed deltas;
  * this is the same consumer shape fed by ROW-level changes (the
  * Delta-CDF / Iceberg-changelog consumption mode), sharing its
  * disciplines:
  *
  *  - the commit log is the stream (one arrival per published
  *    version, mtime-spaced but order-independent — the version
  *    rides in the data);
  *  - per landed version v the trigger derives the v−1→v feed with
  *    the ONE shared [[CdcUpsert.changeFeedStep]] definition (post =
  *    that commit, pre = artifact-targeted segments only — churn-
  *    sized by the same contract q338's spec asserts) and folds its
  *    signed rows ([[CdcUpsert.feedSignedDelta]]) into the previous
  *    MV state;
  *  - MV state is versioned (partition mv_version=v, dynamic
  *    overwrite): replays overwrite themselves byte-identically,
  *    order gaps fail loudly before any state publishes, and each
  *    refresh stamps the binding log exactly once (replay-guarded);
  *  - every per-version state is BIT-EQUAL to the merge-on-read
  *    recompute at that version (counts long, sums decimal — the
  *    q324/q338 exactness rule), which is what the oracle checks
  *    from the tick predicates.
  *
  * At 100 TB this is the standing subscriber: per-commit cost
  * follows that commit's churn, state restarts from its own
  * versioned table, and the feed's row-level shape means the same
  * consumer can key on individual records (audit trails, per-entity
  * caches) — the capability segment deltas cannot offer. */
object StreamCdfConsumer {

  private[graft] val MvT = "graft_mv_cdf"
  private[graft] val BindingsT = "graft_artifact_bindings_cdf"

  def q345StreamCdfConsumer(spark: SparkSession,
      dir: String): DataFrame =
    StreamingWindows.withStreamPartitions(spark) {
      CdcUpsert.buildLifecycle(spark, dir)
      Scale.dropManaged(spark, MvT)
      TableFormat.initBindings(spark, BindingsT)
      // seed state: the MV at version 1 (the consumer's initial
      // build — one recompute, like any subscriber's backfill)
      CdcUpsert.readState(spark, 1)._1
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(18,2)"))
            .cast("decimal(28,2)").as("sum_price"))
        .withColumn("mv_version", lit(1))
        .write.partitionBy("mv_version")
        .option("partitionOverwriteMode", "dynamic")
        .mode(SaveMode.Overwrite).saveAsTable(MvT)
      // every tick's routing scope in one metadata pass (the
      // artifacts all precede the stream)
      val targeted = CdcUpsert.targetedByBatch(spark)
      // the commit log is versions 2..4 — the three upsert ticks; per
      // version the row-level feed of its tick, through the ONE shared
      // derivation, whose fold is exact by the q338 certificate
      StreamChangelogTail.maintainMv(spark, dir, MvT, BindingsT,
        CdcUpsert.CuManifest, 1,
        CdcUpsert.Ticks.map(tk => s"2002-0${tk.t + 4}-02 00:00:00"),
        (s, v) => CdcUpsert.feedSignedDelta(CdcUpsert.changeFeedStepPre(
          s, v - 2, targeted.getOrElse(s"cd${v - 2}", Seq.empty))))
    }
}
