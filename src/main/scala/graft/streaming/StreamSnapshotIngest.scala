package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.Tables
import graft.functions.Cols._
import graft.operators.{Scale, TableFormat}

/** STREAMING commit ingest into the snapshot-versioned table — the
  * table-format tier's online half, completing the online/offline
  * parity the dedup families already have (text q206/q211/q217,
  * vectors q294/q304 ↔ batch snapshots q309/q310/q312 + THIS).
  *
  * Shape: arrivals drain through `foreachBatch`; every micro-batch
  * lands as ONE immutable commit partition, and the manifest gains
  * one VERSION row set per batch, so every batch boundary is a
  * time-travelable snapshot the moment it commits. Two disciplines
  * make the pipeline REPLAY-SAFE and ORDER-SAFE, because neither the
  * streaming commit log nor file-listing order is a contract worth
  * betting an oracle on (the q136 lesson):
  *
  *  - commit identity is CONTENT-derived, not batchId-derived: every
  *    arrival row carries the ingest tick that produced it, and the
  *    batch's single tick value names its commit (`b<tick>`) and its
  *    version (`tick + 1`, listing commits `b0..b<tick>`). Any
  *    processing order yields byte-identical artifacts.
  *  - both writes are IDEMPOTENT: data and manifest are partitioned
  *    by their commit/version key and written through dynamic
  *    partition overwrite, so a batch replayed after a crash
  *    overwrites its own partition instead of appending a duplicate
  *    (the exactly-once contract [[StreamSink]] documents, here
  *    actually implemented for an append-shaped sink).
  *
  * Readers never block on the writer: a version, once written, is an
  * immutable file set (the q309 contract). That claim needs one more
  * discipline MID-drain: version t+1's manifest lists commits
  * b0..b<tick>, so it may only publish once those commits physically
  * exist — the batch asserts exactly that (metadata-only SHOW
  * PARTITIONS) before writing its manifest row, failing loudly on
  * out-of-order delivery rather than publishing a version that
  * resolves to an unwritten commit. This is exactly how
  * Delta/Iceberg streaming sinks turn micro-batches into table
  * versions. At 100 TB the manifest-per-version listing becomes a
  * manifest-LIST plus per-commit manifests; the arithmetic is the
  * same, only the metadata gets its own layer of files.
  */
object StreamSnapshotIngest {

  private val DataT = "graft_snap_data_si"
  private val ManifestT = "graft_snap_manifest_si"

  /** q314: drain four arrival ticks into four commits + four
    * versions, then time-travel-read every version through the
    * manifest. Version v's content is ticks 0..v-1 by the
    * content-derived commit contract, which is what the oracle
    * re-derives (`o_orderkey % 4 < v`) — valid under ANY file
    * processing order. The spec asserts the physical half: four
    * commit partitions, each version's read pruned to exactly its
    * commit set. */
  def q314StreamCommitIngest(spark: SparkSession,
      dir: String): DataFrame =
    StreamingWindows.withStreamPartitions(spark) {
      import spark.implicits._
      Scale.dropManaged(spark, DataT)
      Scale.dropManaged(spark, ManifestT)
      val orders = Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("o_orderdate"))
      // the arrival stream: four single-file slices (o_orderkey mod
      // 4), each row tagged with its ingest tick — the fixture analog
      // of four ingest ticks
      val zone = StreamingWindows.stageArrivals(spark, dir,
        "q314_commits", (0 until 4).map { k => s"tick_$k.parquet" ->
          orders.filter(col("o_orderkey") % 4 === k)
            .withColumn("tick", lit(k)) })
      // empty shells, both partitioned by their idempotency key; each
      // table declares dynamic partition overwrite, so a replayed
      // batch's insertInto replaces only its own partitions
      orders.filter(lit(false)).withColumn("commit_id", lit("seed"))
        .write.partitionBy("commit_id")
        .option("partitionOverwriteMode", "dynamic")
        .mode(SaveMode.Overwrite).saveAsTable(DataT)
      Seq.empty[(String, Int)].toDF("commit_id", "version")
        .write.partitionBy("version")
        .option("partitionOverwriteMode", "dynamic")
        .mode(SaveMode.Overwrite).saveAsTable(ManifestT)

      val src = spark.readStream
        .schema(orders.schema.add("tick", "int"))
        .option("maxFilesPerTrigger", "1").parquet(zone)
      // SEED-ONCE commit tracking (r16, guide §5): the monotone-
      // delivery check below consulted SHOW PARTITIONS per trigger;
      // one seed before the stream plus driver updates after each
      // (throw-on-failure) commit write is the same information — a
      // RESTARTED drain re-seeds from the real table, so the check
      // still covers the crash-recovery path.
      val written = scala.collection.mutable.Set(
        spark.sql(s"SHOW PARTITIONS $DataT").collect()
          .map(_.getString(0).stripPrefix("commit_id=")): _*)
      val ingestBatch: (DataFrame, Long) => Unit = (batch, _) => {
        val s = batch.sparkSession
        import s.implicits._
        // driver-side distinct: .distinct() planned a shuffle stage
        // per trigger for one small file's tick column
        val ticks = batch.select(col("tick"))
          .collect().map(_.getInt(0)).distinct
        require(ticks.length == 1,
          s"one staged tick per micro-batch, got ${ticks.toSeq}")
        val tick = ticks.head
        // MONOTONE-DELIVERY assertion: version tick+1's manifest lists
        // commits b0..b<tick>, which is only sound if those commits
        // exist the moment the manifest row lands — otherwise a
        // mid-drain reader could resolve a version to a commit whose
        // partition isn't written yet. The check is metadata-only
        // (the seeded commit set) and replay-safe: a replayed batch
        // finds its OWN commit already present and every predecessor
        // too, so it passes and idempotently overwrites. Out-of-order
        // delivery (which AvailableNow over mtime-ordered single-file
        // triggers never produces, but nothing here may silently bet
        // on that) fails loudly instead of publishing a dangling
        // manifest.
        require((0 until tick).forall(i => written.contains(s"b$i")),
          s"tick $tick arrived before ${(0 until tick).map("b" + _)
            .filterNot(written.contains).mkString(",")} committed — " +
            "manifest would reference unwritten commits")
        // idempotent: a replayed batch overwrites ITS partitions
        batch.drop("tick")
          .withColumn("commit_id", lit(s"b$tick"))
          .write.mode(SaveMode.Overwrite).insertInto(DataT)
        written += s"b$tick" // the commit physically exists NOW —
        // recorded before the manifest write so a manifest failure
        // leaves the tracking consistent with the disk state
        (0 to tick).map(i => (s"b$i", tick + 1))
          .toDF("commit_id", "version")
          .write.mode(SaveMode.Overwrite).insertInto(ManifestT)
      }
      val query = src.writeStream
        .option("checkpointLocation", s"$zone/_checkpoint")
        .foreachBatch(ingestBatch)
        .trigger(Trigger.AvailableNow())
        .start()
      query.awaitTermination()

      (1 to 4).map { v =>
        TableFormat.readVersion(spark, DataT, ManifestT, v)
          .agg(count(lit(1)).as("n_rows"),
            dsum(col("o_totalprice")).as("sum_price"),
            min(col("o_orderkey")).as("min_okey"),
            max(col("o_orderkey")).as("max_okey"))
          .select(lit(v).as("version"), col("n_rows"), col("sum_price"),
            col("min_okey"), col("max_okey"))
      }.reduce(_ unionByName _).orderBy(col("version"))
    }
}
