package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.Tables
import graft.operators.{Scale, TableFormat}

/** STREAMING CHANGELOG CONSUMPTION — the snapshot table as a stream
  * SOURCE, the read-side twin of q314's write-side ingest and the
  * r10 verdict's #2 residual: q312/q324 consume the changelog in
  * BATCH; every real format also ships the CDC-out pattern
  * (Delta/Iceberg streaming reads), where a standing consumer tails
  * the commit log and maintains derived state per landed commit.
  *
  * Shape: the q325-style commit log (version, committed_at) is the
  * stream — one arrival per publish, staged as single-file slices
  * exactly like q314's arrivals (mtime-spaced so the drain SEES them
  * in order, but correctness never depends on it: the version rides
  * IN the data). A `foreachBatch` + `Trigger.AvailableNow` consumer
  * maintains q324's per-customer MV, one refresh per landed commit:
  *
  *  - each refresh folds the v−1→v signed delta
  *    ([[TableFormat.mvSignedDelta]] — the ONE definition q324's
  *    batch refresh uses) into the previous MV state; the corpus is
  *    touched only at that commit's churn segments, spec-asserted
  *    through the same shared definition. `from = 0` makes the
  *    INITIAL build just the first refresh — no special case.
  *  - MV state is itself a versioned artifact: partition
  *    `mv_version=v` of the MV table, written through dynamic
  *    partition overwrite. That single choice buys the two streaming
  *    disciplines for free (the q314 lessons): REPLAY-SAFETY — a
  *    replayed trigger recomputes its partition from the immutable
  *    v−1 partition and the immutable corpus segments, overwriting
  *    itself with identical bytes — and ORDER-SAFETY — a refresh
  *    requires its predecessor partition to exist and fails loudly
  *    otherwise, never publishing state derived from a gap.
  *  - each refresh is BIT-EQUAL to the full recompute at its version
  *    (the q324 exactness contract, now held at EVERY commit
  *    boundary, which TableFormatSpec asserts per version).
  *
  * The report reads every MV version from the real partitions, so a
  * dropped delta, a double-applied replay, or a refresh that read
  * the wrong segments moves a row count or a sum and hash-fails
  * against the oracle's predicate arithmetic. At 100 TB this is the
  * standing MV service: per-commit cost follows that commit's churn
  * (never the view, never the table), and the consumer restarts from
  * its own versioned state table — online/offline parity for the
  * maintenance tier. */
object StreamChangelogTail {

  private[graft] val DataT = "graft_snap_data_cdc"
  private[graft] val ManifestT = "graft_snap_manifest_cdc"
  private[graft] val MvT = "graft_mv_cdc"
  private[graft] val BindingsT = "graft_artifact_bindings_cdc"

  /** The standing MV consumer q328 and q345 share. The commit log of
    * versions base+1..base+n (committed at `committedAt`) is staged as
    * single-file arrivals, one per publish, and drained by a
    * `foreachBatch` + `Trigger.AvailableNow` consumer. Per landed
    * version v it folds `delta(s, v)` — the signed v−1→v delta — into
    * the MV state at v−1, lands the result as partition
    * `mv_version=v` of `mvT`, and stamps v once in `bindingsT`
    * against `manifestT`. `mvT` must already exist, partitioned by
    * `mv_version`, and declare dynamic partition overwrite; its state
    * at `base` is the existing partition, or empty when there is none.
    * Returns the per-version report, read from the real partitions. */
  private[graft] def maintainMv(spark: SparkSession, dir: String,
      mvT: String, bindingsT: String, manifestT: String, base: Int,
      committedAt: Seq[String],
      delta: (SparkSession, Int) => DataFrame): DataFrame = {
    import spark.implicits._
    val versions = committedAt.indices.map(base + 1 + _)
    val zone = StreamingWindows.stageArrivals(spark, dir, mvT + "_log",
      versions.zip(committedAt).map { case (v, ts) =>
        s"commit_$v.parquet" -> Seq((v, ts)).toDF("version", "ts")
          .select(col("version"), col("ts").cast("timestamp")
            .as("committed_at")) })
    val src = spark.readStream
      .schema("version INT, committed_at TIMESTAMP")
      .option("maxFilesPerTrigger", "1").parquet(zone)

    // SEED-ONCE DRIVER STATE (r16 — the driver should do almost no
    // per-tick work): one collect each BEFORE the stream instead of
    // one or two per tick.
    //  - `landed` seeds from the base version plus ONE SHOW PARTITIONS
    //    and grows as this consumer lands refreshes (insertInto throws
    //    on failure, so driver tracking is exact); a RESTARTED
    //    consumer re-seeds from the real table — the restart contract
    //    is intact;
    //  - `stampedSet` seeds from ONE bindings read (replay guard: a
    //    restarted trigger still sees its earlier stamp);
    //  - `lastState` carries the pinned v−1 refresh to tick v (the pin
    //    is materialized by v−1's own write), falling back to the
    //    versioned table when absent — which is exactly the restart
    //    path, so state is still restartable from disk.
    val landed = scala.collection.mutable.Set(base) ++
      spark.sql(s"SHOW PARTITIONS $mvT").collect()
        .map(_.getString(0).stripPrefix("mv_version=").toInt)
    val stampedSet = scala.collection.mutable.Set(
      spark.table(bindingsT)
        .filter(col("artifact") === mvT)
        .select(col("bound_version"))
        .collect().map(_.getInt(0)): _*)
    var lastState: Option[(Int, DataFrame)] = None
    val refreshOne: (DataFrame, Long) => Unit = (batch, _) => {
      val s = batch.sparkSession
      // a trigger may carry several log rows; refreshes apply in
      // version order — each is its own idempotent unit. Driver-side
      // distinct: a .distinct() here planned a shuffle stage per
      // trigger for a one-row batch.
      batch.select(col("version")).collect().map(_.getInt(0))
        .distinct.sorted.foreach { v =>
          // ORDER-SAFETY: state v derives from state v−1; a gap must
          // fail loudly, not publish MV state with missing history
          // (the q314 monotone-delivery discipline). A REPLAYED
          // commit (v−1 present, v too) passes and overwrites itself
          // with identical bytes — both inputs are immutable.
          require(landed.contains(v - 1),
            s"commit $v arrived before refresh ${v - 1} landed")
          val prev = lastState match {
            case Some((pv, st)) if pv == v - 1 => st
            case _ => s.table(mvT)
              .filter(col("mv_version") === v - 1)
              .select(col("o_custkey"), col("n_orders"),
                col("sum_price"))
          }
          // LAZY pin: load-bearing twice over — it hides the mvT
          // lineage so the self-overwrite below is legal, and the
          // write job materializes it so the NEXT tick's fold reads
          // the pinned blocks instead of re-scanning the table
          val refreshed = TableFormat.mvApplyDelta(prev, delta(s, v))
            .withColumn("mv_version", lit(v))
            .localCheckpoint(eager = false)
          refreshed.write.mode(SaveMode.Overwrite).insertInto(mvT)
          landed += v
          lastState = Some((v, refreshed
            .select(col("o_custkey"), col("n_orders"),
              col("sum_price"))))
          // version-binding stamp (q333's contract), one per landed
          // refresh. Guarded for REPLAY: a trigger re-run after a crash
          // between the (idempotent) partition overwrite and the
          // checkpoint commit must not double-stamp the version — the
          // one side effect here that appends rather than overwrites
          if (!stampedSet.contains(v)) {
            TableFormat.bindArtifact(s, bindingsT, mvT, manifestT, v)
            stampedSet += v
          }
        }
    }
    src.writeStream
      .option("checkpointLocation", s"$zone/_checkpoint")
      .foreachBatch(refreshOne)
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()

    // report: every MV version from the REAL partitions — per version
    // the key count, total orders, and total price the oracle
    // re-derives from the version predicates
    versions.map { v =>
      spark.table(mvT).filter(col("mv_version") === v)
        .agg(count(lit(1)).as("n_keys"),
          sum(col("n_orders")).as("n_orders"),
          sum(col("sum_price")).cast("double").as("sum_price"))
        .select(lit(v).as("version"), col("n_keys"), col("n_orders"),
          col("sum_price"))
    }.reduce(_ unionByName _).orderBy(col("version"))
  }

  def q328StreamMvMaintenance(spark: SparkSession,
      dir: String): DataFrame =
    StreamingWindows.withStreamPartitions(spark) {
      TableFormat.buildSnapshots(spark, dir, "_cdc")
      Scale.dropManaged(spark, MvT)
      TableFormat.initBindings(spark, BindingsT)
      // empty MV shell at version 0, partitioned by its idempotency
      // key — the exact decimal state type the delta arithmetic
      // preserves
      Tables.orders(spark, dir).filter(lit(false))
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(18,2)"))
            .cast("decimal(28,2)").as("sum_price"))
        .withColumn("mv_version", lit(0))
        .write.partitionBy("mv_version")
        .option("partitionOverwriteMode", "dynamic")
        .mode(SaveMode.Overwrite).saveAsTable(MvT)
      // every refresh's commit-set pair in one metadata pass: the
      // manifest is immutable once the fixture is built
      val commitsAt = TableFormat.commitsOfMany(spark, ManifestT, 0 to 3)
      maintainMv(spark, dir, MvT, BindingsT, ManifestT, 0,
        Seq("2000-01-01 00:00:00", "2000-02-01 00:00:00",
          "2000-03-01 00:00:00"),
        (s, v) => TableFormat.mvSignedDeltaFromSets(s, DataT,
          commitsAt(v - 1), commitsAt(v)))
    }
}
