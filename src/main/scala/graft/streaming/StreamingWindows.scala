package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

/** Structured Streaming twin of `operators.Events.q36EventWindows`:
  * file-source stream → event-time tumbling windows + watermark →
  * sink. The DAG's commented 5-minute cadence
  * (`/root/reference/dags/etl_csv_to_dwh.py:14`) realized as a genuine
  * stream instead of a rescheduled batch.
  *
  * `Trigger.AvailableNow` drains whatever data exists and terminates,
  * which makes the streaming path batch-equivalent and oracle-checkable
  * (SURVEY.md §7 risk 5). In production the same plan runs unbounded
  * with `Trigger.ProcessingTime`; the memory sink here is the bounded
  * test/verify sink — swap for parquet/Kafka with a checkpoint dir and
  * the plan (shuffle on window+type with partial agg, state store per
  * window) is unchanged.
  */
object StreamingWindows {

  /** The events file as a stream with `ts` normalized to a µs
    * TimestampType — shared by every streaming catalog query. The
    * declared schema comes from the file footer and the normalization
    * is schema-adaptive (Tables.normalizeEventsTs), so a testdata
    * regeneration that switches the on-disk timestamp encoding
    * (TIMESTAMP(NANOS) ↔ TIMESTAMP(MICROS)) can't break the readers. */
  def eventsStream(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.normalizeEventsTs(
      spark.readStream
        .schema(graft.Tables.eventsFileSchema(spark, dir))
        .option("pathGlobFilter", "events.parquet")
        .parquet(dir))

  /** The scope graft's catalog streams start in: run `body` with a
    * reduced shuffle-partition count and with
    * [[LocalCheckpointFileManager]] as the checkpoint file manager, and
    * restore both settings after.
    *
    * Stateful streaming keeps one state store per shuffle partition
    * per stateful operator; for the bounded drains here, 8 stores
    * load/commit faster than 32 and the query result is
    * partitioning-independent. Unbounded production streams size this
    * to (cores × state volume), not query latency.
    *
    * A stream reads the checkpoint manager class when it starts (its
    * offset and commit logs) and carries it in its cloned session (its
    * state stores), so setting it here reaches every stream started in
    * `body`, and no stream outside it. */
  private[graft] def withStreamPartitions[T](spark: SparkSession)(
      body: => T): T = {
    val settings = Seq("spark.sql.shuffle.partitions" -> "8",
      "spark.sql.streaming.checkpointFileManagerClass" ->
        classOf[LocalCheckpointFileManager].getName)
    val old = settings.map { case (k, _) => k -> spark.conf.getOption(k) }
    settings.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Stage single-file arrivals for a file-source drain: each
    * `(fileName, slice)` lands as one file in the zone `zoneName`, and
    * slice i gets the mtime t0 + (i+1)·2 s, where t0 is the mtime of
    * `orders.parquet`. So a one-file-per-trigger drain sees the slices
    * in order, yet correctness never depends on it: every stream here
    * carries its tick or version in the data. The slices are
    * independent and their mtimes explicit (not wall-clock), so they
    * are staged concurrently. Returns the zone path. */
  private[graft] def stageArrivals(spark: SparkSession, dir: String,
      zoneName: String, slices: Seq[(String, DataFrame)]): String = {
    val zone = graft.Scratch.dir(zoneName)
    val fs = FileSystem.get(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(zone), true)
    val t0 = fs.getFileStatus(new Path(s"$dir/orders.parquet"))
      .getModificationTime
    graft.operators.Scale.inParallel(slices.zipWithIndex.map {
      case ((name, slice), i) => () =>
        val tmp = new Path(s"$zone/_stage_$i")
        slice.coalesce(1).write.parquet(tmp.toString)
        val part = fs.listStatus(tmp).map(_.getPath)
          .find(_.getName.startsWith("part-")).get
        val dst = new Path(s"$zone/$name")
        fs.rename(part, dst)
        fs.delete(tmp, true)
        fs.setTimes(dst, t0 + (i + 1) * 2000L, -1)
    }: _*)
    zone
  }

  /** Shared pipeline of the complete/append-mode twins q39/q136:
    * event stream → µs event time → 10-minute watermark → 5-minute
    * tumbling counts per type. One definition so the two output modes
    * are provably over the same aggregation. */
  private def windowedEventCounts(spark: SparkSession,
      dir: String): DataFrame = {
    eventsStream(spark, dir)
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes").as("win"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
  }

  /** Streaming 5-minute tumbling counts per event type. Returns the
    * drained result as a DataFrame (sorted for the driver's compare). */
  def q39StreamWindows(spark: SparkSession, dir: String): DataFrame =
    withStreamPartitions(spark) {
    val agg = windowedEventCounts(spark, dir)
    val name = "graft_stream_windows_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    val query = agg.writeStream
      .format("memory")
      .queryName(name)
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .start()
    query.awaitTermination()
    val result = spark.table(name)
      .select(col("win.start").as("win_start"), col("event_type"),
        col("n_events"))
      .orderBy(col("win_start"), col("event_type"))
    materializeAndDrop(spark, name, result)
  }

  /** Multi-batch incremental drain: the events table is split over
    * four files and streamed ONE FILE PER TRIGGER, so the windowed
    * aggregation's state store genuinely carries partial counts across
    * micro-batches (q39's single-file drain exercises only one batch).
    * The final complete-mode state must equal the batch aggregation —
    * proving cross-batch state merge, the property an unbounded
    * production stream lives on. */
  def q116StreamMultibatch(spark: SparkSession, dir: String): DataFrame =
    withStreamPartitions(spark) {
      val zone = graft.Scratch.dir("q116_events_multi")
      val fs = org.apache.hadoop.fs.FileSystem.get(
        spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(zone), true)
      graft.Tables.events(spark, dir).repartition(4)
        .write.parquet(zone) // ts now µs timestamps in the zone files
      val src = spark.readStream
        .schema(graft.Tables.events(spark, dir).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(zone)
      val agg = src
        .withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "5 minutes").as("win"), col("event_type"))
        .agg(count(lit(1)).as("n_events"))
      val name = "graft_stream_multi_" +
        java.util.UUID.randomUUID().toString.replace("-", "")
      val query = agg.writeStream.format("memory").queryName(name)
        .outputMode("complete").trigger(Trigger.AvailableNow()).start()
      query.awaitTermination()
      val result = spark.table(name)
        .select(col("win.start").as("win_start"), col("event_type"),
          col("n_events"))
        .orderBy(col("win_start"), col("event_type"))
      materializeAndDrop(spark, name, result)
    }

  /** Append-mode windowed aggregation: rows are emitted ONLY when the
    * watermark passes a window's end — the semantics an unbounded
    * pipeline needs to write each window exactly once to a downstream
    * sink (complete mode, q39/q116, re-emits everything). One data
    * batch ingests the events; the AvailableNow no-data batch then
    * advances the watermark to (global max event time − delay) and
    * flushes exactly the windows whose end ≤ that bound, which the
    * oracle recomputes in SQL. Windows still open at drain end stay in
    * state, unemitted. (Deliberately single-batch: append mode DROPS
    * rows behind the watermark, so a multi-file drain is only loss-free
    * if files arrive in event-time order — file mtime ordering isn't a
    * contract worth betting an oracle on. Cross-batch state merge is
    * proven by q116/q135; production backfills through an append-mode
    * stream must likewise replay in time order, or lose data.) */
  def q136StreamAppendWindows(spark: SparkSession, dir: String): DataFrame =
    withStreamPartitions(spark) {
      val agg = windowedEventCounts(spark, dir)
      val name = "graft_stream_append_" +
        java.util.UUID.randomUUID().toString.replace("-", "")
      val query = agg.writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      query.awaitTermination()
      val result = spark.table(name)
        .select(col("win.start").as("win_start"), col("event_type"),
          col("n_events"))
        .orderBy(col("win_start"), col("event_type"))
      materializeAndDrop(spark, name, result)
    }

  /** Update-mode windowed aggregation — the third output mode beside
    * complete (q39/q116) and append (q136): each micro-batch emits
    * ONLY the windows it changed, the sink upserts by key. With a
    * single data batch every window is touched exactly once and the
    * no-data batch changes nothing, so the emitted set equals the
    * batch aggregation — deterministic and oracle-checkable while
    * still running the update-mode state path (late-arriving data in
    * production re-emits just the affected windows, which is what
    * keeps a continuously-refreshed dashboard sink cheap). */
  def q165StreamUpdateWindows(spark: SparkSession, dir: String): DataFrame =
    withStreamPartitions(spark) {
      val agg = windowedEventCounts(spark, dir)
      val name = "graft_stream_update_" +
        java.util.UUID.randomUUID().toString.replace("-", "")
      val query = agg.writeStream.format("memory").queryName(name)
        .outputMode("update").trigger(Trigger.AvailableNow()).start()
      query.awaitTermination()
      val result = spark.table(name)
        .select(col("win.start").as("win_start"), col("event_type"),
          col("n_events"))
        .orderBy(col("win_start"), col("event_type"))
      materializeAndDrop(spark, name, result)
    }

  /** Copy a memory-sink result into a local relation and drop the sink
    * view — repeated drains would otherwise accumulate one full result
    * copy per run in the driver's sink registry. Sound here because
    * drained results are small aggregates; an unbounded stream would
    * use a durable sink (see StreamSink) instead. */
  private[graft] def materializeAndDrop(spark: SparkSession,
      name: String,
      result: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val rows = result.collect()
    val out = spark.createDataFrame(
      java.util.Arrays.asList(rows: _*), result.schema)
    spark.catalog.dropTempView(name)
    out
  }
}
