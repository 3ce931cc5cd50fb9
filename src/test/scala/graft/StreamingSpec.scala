package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Events
import graft.streaming.{SessionEvent, StreamSessions, StreamingWindows}

class StreamingSpec extends AnyFunSuite {
  import TestSpark._

  test("streaming tumbling windows equal the batch formulation") {
    val streamed = StreamingWindows.q39StreamWindows(spark, sf)
      .collect().map(_.toSeq)
    val batch = Events.q36EventWindows(spark, sf)
      .select("win_start", "event_type", "n_events")
      .collect().map(_.toSeq)
    assert(streamed.toSeq == batch.toSeq)
  }

  test("flatMapGroupsWithState sessionizer closes sessions on gap") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val t0 = 1700000000000000L // arbitrary epoch micros
    val min = 60L * 1000000
    val input = MemoryStream[SessionEvent]
    val out = StreamSessions.sessionize(input.toDS())
    val q = out.writeStream.format("memory").queryName("graft_sess_test")
      .outputMode("append").start()
    try {
      // user 1: two sessions (10-min burst, then 2h later a single);
      // user 2: one single-event session
      input.addData(
        SessionEvent(1, t0, 1), SessionEvent(1, t0 + 10 * min, 2),
        SessionEvent(1, t0 + 120 * min, 3),
        SessionEvent(2, t0, 4))
      q.processAllAvailable()
      // sentinels push the watermark far past every gap (two rounds so
      // the watermark from round one closes sessions in round two)
      input.addData(SessionEvent(99, t0 + 1000 * min, 5))
      q.processAllAvailable()
      input.addData(SessionEvent(99, t0 + 2000 * min, 6))
      q.processAllAvailable()
      val got = spark.table("graft_sess_test")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .toSet
      assert(got.contains((1L, t0, 2L, 600.0)))          // 10-min session
      assert(got.contains((1L, t0 + 120 * min, 1L, 0.0))) // later single
      assert(got.contains((2L, t0, 1L, 0.0)))
    } finally q.stop()
  }

  test("foreachBatch lands streaming results through the batch writer") {
    withTempDir("graft_fb") { out =>
      graft.streaming.StreamSink.windowCountsToParquet(spark, sf, out)
      val landed = spark.read.parquet(s"$out/data")
        .collect().map(_.toSeq).toSet
      val batch = Events.q36EventWindows(spark, sf)
        .select("win_start", "event_type", "n_events")
        .collect().map(_.toSeq).toSet
      assert(landed == batch)
    }
  }

  test("streaming dedup drops within-watermark duplicate content") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, String, java.sql.Timestamp)]
    val t0 = 1700000000000L
    def ts(offsetSec: Long) = new java.sql.Timestamp(t0 + offsetSec * 1000)
    val out = graft.streaming.StreamDedup.dedupStream(
      input.toDF().toDF("doc_id", "text", "ts"), "10 minutes")
    val q = out.writeStream.format("memory").queryName("graft_dedup_test")
      .outputMode("append").start()
    try {
      input.addData(
        (1L, "the quick fox", ts(0)),
        (2L, "  THE  quick fox ", ts(30)), // same canonical content
        (3L, "something else", ts(60)))
      q.processAllAvailable()
      input.addData((4L, "the quick fox", ts(90))) // still a duplicate
      q.processAllAvailable()
      val kept = spark.table("graft_dedup_test")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(kept == Set(1L, 3L))
    } finally q.stop()
  }

  test("catalog stream dedup keeps exactly the batch fingerprint set") {
    val streamed = graft.streaming.StreamDedup.q81StreamDedup(spark, sf)
      .collect().map(_.getString(0)).toSet
    val batch = graft.operators.Dedup.q24DedupExact(spark, sf)
      .select("fp").collect().map(_.getString(0)).toSet
    assert(streamed == batch)
  }

  test("catalog stream sessions are a subset of batch sessions and " +
      "cover every non-final one") {
    import org.apache.spark.sql.functions._
    val streamed = StreamSessions.q82StreamSessions(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    val batchDf = Events.q38Sessionize(spark, sf)
    val batch = batchDf
      .select(col("user_id"),
        unix_micros(col("session_start")).as("start_us"),
        col("n_events"), col("duration_sec"), col("session_id"))
      .collect()
    val batchSet = batch
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(streamed.subsetOf(batchSet))
    // all-but-last per user must have been closed inline by the drain
    val lastSid = batch.groupBy(_.getLong(0))
      .view.mapValues(_.map(_.getLong(4)).max).toMap
    val nonFinal = batch
      .filter(r => r.getLong(4) < lastSid(r.getLong(0)))
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(nonFinal.subsetOf(streamed))
  }

  test("batch sessionize conserves events and orders sessions") {
    val df = Events.q38Sessionize(spark, sf)
    val total = df.agg(org.apache.spark.sql.functions.sum("n_events"))
      .collect().head.getLong(0)
    assert(total == graft.Tables.events(spark, sf).count())
    assert(df.filter("duration_sec < 0").count() == 0)
  }

  test("hopping windows count every event exactly twice") {
    val hopTotal = Events.q37EventHopping(spark, sf)
      .agg(org.apache.spark.sql.functions.sum("n_events"))
      .collect().head.getLong(0)
    assert(hopTotal == 2 * graft.Tables.events(spark, sf).count())
  }

  test("state-v2 timer sessionizer emits exactly the " +
      "flatMapGroupsWithState session set") {
    val a = streaming.StreamTransformState.q149TwsTimers(spark, sf)
      .collect().map(_.toSeq).toSet
    val b = streaming.StreamSessions.q82StreamSessions(spark, sf)
      .collect().map(_.toSeq).toSet
    assert(a == b)
    assert(a.nonEmpty)
  }

  test("windowed aggregation restarted from its checkpoint recovers " +
      "open-window state and emits every window exactly once") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // The property streaming state exists FOR: a query dies between
    // micro-batches and a new process resumes from the checkpoint —
    // source offsets, watermark, and open-window state must all come
    // back, and the sink must see each finalized window exactly once.
    // Two separate query incarnations over one checkpoint model the
    // kill/restart (AvailableNow stops are the deterministic form of
    // the kill; recovery reads the same WAL either way).
    withTempDir("graft_ckpt_recovery") { root =>
      val in = s"$root/in"; val out = s"$root/out"; val ck = s"$root/ck"
      val t0 = 1700000400L // minute-aligned epoch seconds
      def addFile(xs: (Long, Long)*): Unit = // (minuteOffset, key)
        xs.map { case (m, k) =>
          (new java.sql.Timestamp((t0 + m * 60) * 1000), k)
        }.toDF("ts", "key").coalesce(1)
          .write.mode("append").parquet(in)
      def runToCompletion(): Unit = {
        val q = spark.readStream
          .schema("ts timestamp, key long").parquet(in)
          .withWatermark("ts", "10 minutes")
          .groupBy(window(col("ts"), "1 minute"), col("key"))
          .agg(count(lit(1)).as("n"))
          .select(col("window.start").as("win_start"), col("key"), col("n"))
          .writeStream.format("parquet").option("path", out)
          .option("checkpointLocation", ck)
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      // incarnation 1: minutes 0-2 finalized by the minute-60 sentinel
      // (watermark 50); the minute-60 window stays OPEN in state (n=1)
      addFile((0, 1), (0, 1), (1, 1), (2, 2), (60, 9))
      runToCompletion()
      assert(spark.read.parquet(out).count() == 3,
        "incarnation 1 must emit exactly the three closed windows")
      // incarnation 2, same checkpoint: two MORE events land in the
      // still-open minute-60 window — the correct count of 3 REQUIRES
      // the recovered state to hold incarnation 1's event — and a
      // minute-120 sentinel closes it
      addFile((60, 9), (60, 9), (120, 99))
      runToCompletion()
      val got = spark.read.parquet(out)
        .select(unix_timestamp(col("win_start")), col("key"), col("n"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      val want = Set(
        (t0, 1L, 2L), (t0 + 60, 1L, 1L), (t0 + 120, 2L, 1L),
        (t0 + 3600, 9L, 3L)) // 1 pre-restart + 2 post-restart events
      assert(got.length == want.size, // no duplicate emission on replay
        s"expected ${want.size} rows exactly once, got ${got.length}")
      assert(got.toSet == want, got.toSeq.sorted.mkString("\n"))
    }
  }

  test("stream index gate emits only new-vs-corpus pairs, matching " +
    "the batch incremental pairing") {
    import spark.implicits._
    val gate = graft.streaming.StreamDedup.q217StreamIndexDedup(spark, sf)
      .select("doc_new", "doc_old").as[(Long, Long)].collect()
    assert(gate.nonEmpty)
    // orientation contract: arriving side is always %10==7, index side
    // never is — the gate must not re-adjudicate corpus-internal pairs
    gate.foreach { case (n, o) =>
      assert(n % 10 == 7 && o % 10 != 7, s"pair ($n,$o)")
    }
    // the online gate equals the batch daily-ingest query's new×old
    // half (q206 additionally reports new×new from its self-join)
    val batch = graft.operators.Dedup.q206IncrementalDedup(spark, sf)
      .filter(org.apache.spark.sql.functions.col("pair_type") === "new_old")
      .select("doc_a", "doc_b").as[(Long, Long)].collect()
      .map { case (a, b) => if (a % 10 == 7) (a, b) else (b, a) }
    assert(gate.toSet == batch.toSet)
  }

  test("watermark-bounded gate admits the same pairs as the unbounded " +
      "form AND actually evicts pair-dedup state") {
    import spark.implicits._
    val (bounded, evicted) = graft.streaming.StreamDedup
      .gateIndexDedup(spark, sf, bounded = true)
    val got = bounded.select("doc_new", "doc_old", "jaccard")
      .as[(Long, Long, Double)].collect().toSet
    val want = graft.streaming.StreamDedup
      .q217StreamIndexDedup(spark, sf)
      .select("doc_new", "doc_old", "jaccard")
      .as[(Long, Long, Double)].collect().toSet
    // bounding state must not change the admitted set (same oracle)
    assert(got == want)
    assert(got.nonEmpty)
    // the point of the variant: the watermark actually REMOVES state —
    // arrivals span many 1-minute windows, so expired pair keys are
    // evicted instead of accumulating forever
    assert(evicted > 0, s"expected state eviction, got $evicted removals")
  }

  test("transformWithState running totals converge to the batch " +
      "group-by across micro-batches") {
    import org.apache.spark.sql.functions._
    val got = streaming.StreamTransformState
      .q135TransformWithState(spark, sf)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2))))
      .toMap
    val want = graft.Tables.events(spark, sf)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"), max(col("event_id")).as("m"))
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2))))
      .toMap
    assert(got == want)
    // the state store provider conf must be restored after the drain
    // (getOption surfaces the session default, HDFSBacked, not None)
    assert(!spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
      .exists(_.contains("RocksDB")))
  }

  test("streaming CUSUM monitor equals the batch changepoint query " +
      "row for row") {
    val stream = operators.Events
      .q277StreamCusum(TestSpark.spark, TestSpark.sf)
      .collect().map(_.toSeq).toSeq
    val batch = operators.Events.q273Cusum(TestSpark.spark, TestSpark.sf)
      .collect().map(_.toSeq).toSeq
    assert(stream == batch)
  }

  private def checkpointManager(dir: String) =
    new streaming.LocalCheckpointFileManager(
      new org.apache.hadoop.fs.Path(dir), spark.sparkContext.hadoopConfiguration)

  private def bytesOf(s: String) =
    s.getBytes(java.nio.charset.StandardCharsets.UTF_8)

  private def listing(dir: String): Set[String] =
    new java.io.File(dir).list().toSet

  test("checkpoint manager: create-if-absent on an existing entry " +
      "fails with FileAlreadyExistsException and keeps the original") {
    withTempDir("graft_ckfm_cas") { dir =>
      val fm = checkpointManager(dir)
      val p = new org.apache.hadoop.fs.Path(dir, "0")
      val first = fm.createAtomic(p, overwriteIfPossible = false)
      first.write(bytesOf("first"))
      first.close()
      val second = fm.createAtomic(p, overwriteIfPossible = false)
      second.write(bytesOf("second entry"))
      intercept[org.apache.hadoop.fs.FileAlreadyExistsException](
        second.close())
      second.cancel() // what HDFSMetadataLog does after a failed close
      assert(new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(dir, "0"))) == "first")
      assert(listing(dir) == Set("0"), "the loser's temp file must be gone")
      // a winner written through Hadoop's checksummed FS keeps its .crc
      val lfs = org.apache.hadoop.fs.FileSystem.getLocal(
        spark.sparkContext.hadoopConfiguration)
      val q = new org.apache.hadoop.fs.Path(dir, "1")
      val winner = lfs.create(q, false)
      winner.write(bytesOf("winner"))
      winner.close()
      val loser = fm.createAtomic(q, overwriteIfPossible = false)
      loser.write(bytesOf("loser"))
      intercept[org.apache.hadoop.fs.FileAlreadyExistsException](loser.close())
      assert(listing(dir) == Set("0", "1", ".1.crc"), listing(dir).mkString(","))
      val in = lfs.open(q)
      try assert(new String(in.readAllBytes()) == "winner") finally in.close()
    }
  }

  test("checkpoint manager: cancel() leaves no temp file behind") {
    withTempDir("graft_ckfm_cancel") { dir =>
      val fm = checkpointManager(dir)
      val out = fm.createAtomic(new org.apache.hadoop.fs.Path(dir, "1"),
        overwriteIfPossible = false)
      out.write(bytesOf("half an entry"))
      assert(listing(dir).size == 1, "the write goes to a temp file")
      out.cancel()
      assert(listing(dir).isEmpty, listing(dir).mkString(","))
    }
  }

  test("checkpoint manager: an entry written through Hadoop's " +
      "checksummed FS and then replaced reads back the new bytes") {
    withTempDir("graft_ckfm_crc") { dir =>
      val p = new org.apache.hadoop.fs.Path(dir, "state.delta")
      val lfs = org.apache.hadoop.fs.FileSystem.getLocal(
        spark.sparkContext.hadoopConfiguration)
      val old = lfs.create(p, true)
      old.write(bytesOf("the old, longer entry"))
      old.close()
      assert(listing(dir).contains(".state.delta.crc"))
      val fm = checkpointManager(dir)
      val out = fm.createAtomic(p, overwriteIfPossible = true)
      out.write(bytesOf("new"))
      out.close()
      // both readers verify a .crc sidecar when one exists: a stale one
      // fails the read with a ChecksumException
      def read(in: java.io.InputStream) =
        try new String(in.readAllBytes()) finally in.close()
      assert(read(lfs.open(p)) == "new")
      assert(read(fm.open(p)) == "new")
      assert(listing(dir) == Set("state.delta"))
    }
  }

  test("graft-started streams write their checkpoints through the " +
      "local checkpoint manager: q358's offsets log holds no .crc") {
    streaming.StreamRloSink.q358StreamRloSink(spark, sf).collect()
    val offsets = Scratch.dir("q358_arrivals") + "/_cp1/offsets"
    val names = listing(offsets)
    assert(names.contains("0"), names.mkString(","))
    assert(!names.exists(_.endsWith(".crc")), names.mkString(","))
    // the scope restores the session's manager setting afterwards
    assert(spark.conf.getOption(
      "spark.sql.streaming.checkpointFileManagerClass").isEmpty)
  }
}
