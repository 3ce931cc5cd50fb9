package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.Tables
import graft.operators.SqlDml
import graft.sources.RloMeta

/** STREAMING EXACTLY-ONCE SINK INTO THE DSv2 CATALOG (q358) — the
  * q314 discipline (content-derived commit identity + idempotent
  * writes) applied to the SQL-DML tier's table layout, closing the
  * loop between the streaming tier and the DSv2 catalog: a
  * micro-batch drain lands each arrival tick as one immutable
  * segment + one CAS-published version, and the table is immediately
  * SQL-readable (`VERSION AS OF`, DML, the whole q346+ surface).
  *
  *  - commit identity is CONTENT-derived: the tick rides IN the
  *    data; tick k lands segment `b<k>` and version k+2 (v1 is the
  *    empty table), so any delivery order yields identical bytes;
  *  - ORDER gate on the manifest (the q337-after-r12-advice rule):
  *    tick k publishes only after version k+1 exists;
  *  - exactly-once WITHOUT relying on the streaming checkpoint: a
  *    replayed batch finds its version already published and skips —
  *    the version-file CAS is the dedup, so the sink survives a LOST
  *    checkpoint (the q358 run proves it by re-draining the whole
  *    stream from a fresh checkpoint and demanding byte-stability).
  *
  * This is how a Delta/Iceberg streaming sink achieves idempotent
  * micro-batch commits (txn-id per batch); here the txn id is the
  * content-derived version number. */
object StreamRloSink {

  /** Apply ONE arrival batch to the catalog table — shared by both
    * drains (first run and the fresh-checkpoint replay). */
  private def applyBatch(root: String)(batch: DataFrame,
      unused: Long): Unit = {
    val conf = batch.sparkSession.sparkContext.hadoopConfiguration
    // driver-side distinct (r16): .distinct() planned a shuffle stage
    // per trigger for one small file's tick column — and the replay
    // drain pays it again on every re-delivered batch
    val ticks = batch.select(col("tick"))
      .collect().map(_.getInt(0)).distinct
    require(ticks.length == 1,
      s"one arrival tick per micro-batch, got ${ticks.toSeq}")
    val k = ticks.head
    val head = RloMeta.headVersion(conf, root)
    require(head >= k + 1,
      s"tick $k arrived before version ${k + 1} was published")
    if (head < k + 2) {
      val rows = batch.select(col("o_orderkey"), col("o_custkey"),
        col("o_totalprice"), col("o_orderdate")).localCheckpoint()
      // the segment write and the stats aggregate both read the
      // pinned blocks and are independent — overlap them (guide
      // §2.6, r16); writeStats still waits on BOTH (it needs the
      // stats row AND the written files' lengths)
      val (_, st) = graft.operators.Scale.both(
        () => rows.write.mode(SaveMode.Overwrite)
          .parquet(RloMeta.commitDir(root, s"b$k").toString),
        () => rows.agg(min(unix_date(col("o_orderdate"))),
          max(unix_date(col("o_orderdate"))), count(lit(1)),
          count(lit(1)) - count(col("o_orderdate")))
          .collect().head)
      RloMeta.writeStats(conf, root, s"b$k", st.getInt(0), st.getInt(1),
        st.getLong(2),
        RloMeta.listDataFilesWithLen(conf, root, s"b$k").map(_._2).sum,
        Map.empty, st.getLong(3))
      val ts = RloMeta.commitsOf(conf, root, head)._1 + 1000000L
      RloMeta.publishVersion(conf, root, k + 2, ts,
        (0 to k).map(i => s"b$i"))
      ()
    } // else: replay of an already-published tick — the version-file
      // CAS already holds its content; nothing to do (exactly-once)
  }

  def q358StreamRloSink(spark: SparkSession, dir: String): DataFrame =
    StreamingWindows.withStreamPartitions(spark) {
      SqlDml.ensureCatalog(spark)
      val conf = spark.sparkContext.hadoopConfiguration
      val root = SqlDml.tableRoot("orders_stream")
      RloMeta.initTable(conf, root, SqlDml.FixtureSchema, "o_orderdate")
      RloMeta.publishVersion(conf, root, 1,
        SqlDml.tsMicros("2000-01-01 00:00:00"), Seq.empty)
      // four single-file arrival slices (mod-4 key classes, tick in
      // the data) — q314's arrivals in the catalog's DATE-typed schema
      val orders = SqlDml.ordersAsDate(spark, dir)
      val zone = StreamingWindows.stageArrivals(spark, dir,
        "q358_arrivals", (0 until 4).map { k => s"tick_$k.parquet" ->
          orders.filter(col("o_orderkey") % 4 === k)
            .withColumn("tick", lit(k)) })
      val srcSchema = SqlDml.FixtureSchema.add("tick",
        org.apache.spark.sql.types.IntegerType)

      def drain(checkpoint: String): Unit = {
        val q = spark.readStream.schema(srcSchema)
          .option("maxFilesPerTrigger", "1")
          .option("pathGlobFilter", "tick_*.parquet")
          .parquet(zone)
          .writeStream
          .option("checkpointLocation", s"$zone/$checkpoint")
          .foreachBatch(applyBatch(root) _)
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      drain("_cp1")
      // the lost-checkpoint scenario: a second drain from a FRESH
      // checkpoint re-delivers every batch; the version-file CAS is
      // the dedup, so the table must come out byte-identical
      drain("_cp2")

      spark.sql((2 to 5).map { v =>
        s"""SELECT 'version_$v' AS read, COUNT(*) AS n_rows,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
            AS sum_price
        FROM ${SqlDml.Cat}.${SqlDml.Ns}.orders_stream VERSION AS OF $v"""
      }.mkString("\nUNION ALL\n") + "\nORDER BY read")
    }
}
