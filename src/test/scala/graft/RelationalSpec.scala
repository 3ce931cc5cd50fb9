package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

object TestSpark {
  lazy val spark: SparkSession = GraftSession(4)
  val sf = "/root/testdata/sf0.001"

  /** Run `body` with a fresh temp directory (named `prefix…` under
    * `java.io.tmpdir`) and delete the directory afterwards, whether
    * the body passed or failed. */
  def withTempDir[T](prefix: String)(body: String => T): T = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    try body(dir.toString) finally Scratch.deleteRecursively(dir)
  }
}

class RelationalSpec extends AnyFunSuite {
  import TestSpark._

  test("the test session carries GraftSession's fixed settings, and " +
      "GraftSession is the only place in src/ that builds a session") {
    assert(spark.sparkContext.master == "local[4]")
    Seq("spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly" ->
        "false",
      "spark.ui.enabled" -> "false").foreach { case (k, v) =>
      assert(spark.conf.get(k) == v, k)
    }
    val needle = "SparkSession" + ".builder"
    val src = java.nio.file.Paths.get("src")
    assert(java.nio.file.Files.isDirectory(src))
    val builders = scala.util.Using.resource(java.nio.file.Files.walk(src))(
      _.iterator().asScala
        .filter(p => p.toString.endsWith(".scala") &&
          java.nio.file.Files.readString(p).contains(needle))
        .map(_.getFileName.toString).toList)
    assert(builders == Seq("GraftSession.scala"), builders)
  }

  test("src/main names partitionOverwriteMode only as a table or " +
      "writer option, never through the session conf") {
    val key = "partitionOverwriteMode"
    val main = java.nio.file.Paths.get("src/main")
    assert(java.nio.file.Files.isDirectory(main))
    val offending = scala.util.Using.resource(
        java.nio.file.Files.walk(main))(_.iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap { p =>
        java.nio.file.Files.readAllLines(p).asScala.zipWithIndex
          .filter { case (l, _) => l.contains(key) &&
            !l.contains(s""".option("$key", "dynamic")""") }
          .map { case (l, i) => s"${p.getFileName}:${i + 1}: ${l.trim}" }
      }.toList)
    assert(offending.isEmpty, offending.mkString("\n"))
  }

  /** (file name, "file:line: text") of every src/main line `hit` accepts. */
  private def mainLinesWith(hit: String => Boolean): List[(String, String)] = {
    val main = java.nio.file.Paths.get("src/main")
    assert(java.nio.file.Files.isDirectory(main))
    scala.util.Using.resource(java.nio.file.Files.walk(main))(
      _.iterator().asScala
        .filter(_.toString.endsWith(".scala"))
        .flatMap { p =>
          java.nio.file.Files.readAllLines(p).asScala.zipWithIndex
            .collect { case (l, i) if hit(l) => p.getFileName.toString ->
              s"${p.getFileName}:${i + 1}: ${l.trim}" }
        }.toList)
  }

  test("src/main starts threads only in Scale's wave, and no wave " +
      "hands its results out through a volatile variable") {
    val volatileVar = """@volatile\s+(private(\[\w+\])?\s+)?var\b""".r
    val threads = mainLinesWith(_.contains("new Thread("))
    assert(threads.map(_._1) == List("Scale.scala"),
      threads.map(_._2).mkString("\n"))
    // the only volatile fields are RloCatalog's runtime-filter keep set
    // and its row-level operation's configured scan
    val volatiles = mainLinesWith(volatileVar.findFirstIn(_).isDefined)
    assert(volatiles.map(_._1) == List("RloCatalog.scala", "RloCatalog.scala"),
      volatiles.map(_._2).mkString("\n"))
  }

  test("src/main builds a fresh Hadoop config only at the four " +
      "executor-side RLO sites; driver code reuses the session's") {
    // a fresh config re-parses core-default.xml when first read (10-14
    // ms) and misses the session's spark.hadoop.* settings. The task
    // side keeps its own: RloColumnarReader.confFor, RloPartitionReader,
    // RloDataWriter and RloDeltaWriter, in file order
    val fresh = """new\s+(org\.apache\.hadoop\.conf\.)?Configuration\(\s*\)""".r
    val sites = mainLinesWith(fresh.findFirstIn(_).isDefined)
    assert(sites.map(_._1) == List.fill(4)("RloCatalog.scala"),
      sites.map(_._2).mkString("\n"))
  }

  test("Tables.table infers a file's schema once per (file version, " +
      "schema settings); a memoized open starts no Spark job") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
    }
    def jobsOf(group: String): Int = groups.asScala.count(_ == group)
    def inGroup[T](group: String)(body: => T): T = {
      sc.setJobGroup(group, group)
      try body finally sc.clearJobGroup()
    }
    def withConf[T](key: String, value: String)(body: => T): T = {
      val old = spark.conf.getOption(key)
      spark.conf.set(key, value)
      try body finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }
    sc.addSparkListener(listener)
    try withTempDir("graft_schema_memo") { dir =>
      val file = java.nio.file.Paths.get(dir, "t.parquet")
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(sf, "nation.parquet"), file)
      val first = inGroup("memo-first")(Tables.table(spark, dir, "t"))
      val again = inGroup("memo-again")(Tables.table(spark, dir, "t"))
      assert(again.schema == first.schema)
      // a new modification time is a new file version: inferred again
      java.nio.file.Files.setLastModifiedTime(file,
        java.nio.file.attribute.FileTime.fromMillis(
          java.nio.file.Files.getLastModifiedTime(file).toMillis + 10000))
      inGroup("memo-touched")(Tables.table(spark, dir, "t"))
      // so is new content of another length, here another table
      java.nio.file.Files.copy(java.nio.file.Paths.get(sf, "region.parquet"),
        file, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      val region = inGroup("memo-rewritten")(Tables.table(spark, dir, "t"))
      assert(region.columns.toSeq == Tables.region(spark, sf).columns.toSeq)
      assert(region.count() == Tables.region(spark, sf).count())
      // listener events arrive in order: once the last group's job is
      // in, every earlier job is too
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (jobsOf("memo-rewritten") == 0 && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(jobsOf("memo-first") >= 1)
      assert(jobsOf("memo-again") == 0)
      assert(jobsOf("memo-touched") >= 1)
      assert(jobsOf("memo-rewritten") >= 1)

      // schema settings are part of the key: the same events file reads
      // ts as TIMESTAMP_NTZ or TIMESTAMP with NTZ inference on or off
      val ntzKey = "spark.sql.parquet.inferTimestampNTZ.enabled"
      val ts = Seq("true", "false").map(v => withConf(ntzKey, v)(
        Tables.table(spark, sf, "events").schema("ts").dataType))
      assert(ts == Seq(TimestampNTZType, TimestampType))

      // an events file with TIMESTAMP(NANOS) ts reads ts as a long under
      // nanosAsLong; without it the memoized schema is not served and
      // the open fails as a plain read does
      val nanos = java.nio.file.Paths.get(dir, "events.parquet").toString
      val pschema = org.apache.parquet.schema.MessageTypeParser
        .parseMessageType("message e { required int64 event_id; " +
          "required int64 ts (TIMESTAMP(NANOS,true)); }")
      val w = org.apache.parquet.hadoop.example.ExampleParquetWriter
        .builder(new org.apache.hadoop.fs.Path(nanos))
        .withType(pschema).build()
      try w.write(new org.apache.parquet.example.data.simple
        .SimpleGroupFactory(pschema).newGroup()
        .append("event_id", 1L).append("ts", 1700000000123456789L))
      finally w.close()
      val nanosKey = "spark.sql.legacy.parquet.nanosAsLong"
      val asLong = withConf(nanosKey, "true")(
        Tables.table(spark, dir, "events").schema)
      assert(asLong("ts").dataType == LongType)
      val without = intercept[org.apache.spark.sql.AnalysisException](
        withConf(nanosKey, "false")(Tables.table(spark, dir, "events")))
      assert(without.getMessage.contains("PARQUET_TYPE_ILLEGAL"), without)
    } finally sc.removeSparkListener(listener)
  }

  test("every registered query runs, returns rows, and plans no " +
      "cartesian product at sf0.001") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, sf)
      // plan lint: a CartesianProduct is the one shape with no scale
      // story — every intentional all-pairs op here broadcasts one
      // side (BroadcastNestedLoopJoin), which at least bounds the
      // shuffle. Catches an accidental join-condition dropout.
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"),
        s"$name plans a CartesianProduct:\n${plan.take(2000)}")
      val n = df.count()
      assert(n > 0, s"$name returned 0 rows")
    }
  }

  test("approx percentiles track the exact sketch-free twin") {
    val exact = operators.Relational.q48Percentiles(spark, sf)
      .collect().map(r => r.getString(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    operators.Relational.q88ApproxPercentiles(spark, sf)
      .collect().foreach { r =>
        val (p50, p90, p99) = exact(r.getString(0))
        // the sketch is rank-exact at this size; the residual is
        // interpolation (exact percentile) vs nearest data value
        // (approx), so the bound reflects value gaps, not sketch error
        assert(math.abs(r.getDouble(1) - p50) / p50 < 0.05)
        assert(math.abs(r.getDouble(2) - p90) / p90 < 0.05)
        assert(math.abs(r.getDouble(3) - p99) / p99 < 0.05)
      }
  }

  test("hll certificate: estimate stays within one rsd of exact at " +
      "test scale, and the certified flag is true everywhere") {
    import org.apache.spark.sql.functions.{abs => fabs, col}
    // recompute the internal estimate the certificate dropped from its
    // hashed output, and pin the OBSERVED error well inside the 3×rsd
    // certificate bound — if this creeps, the q234 flag is next
    val joined = Tables.lineitem(spark, sf)
      .groupBy(col("l_returnflag"))
      .agg(org.apache.spark.sql.functions.countDistinct(col("l_partkey"))
          .as("exact"),
        org.apache.spark.sql.functions
          .approx_count_distinct(col("l_partkey"), 0.05).as("est"))
      .select(fabs(col("est") - col("exact")).cast("double") /
        col("exact").cast("double"))
      .collect().map(_.getDouble(0))
    assert(joined.nonEmpty)
    assert(joined.forall(_ <= 0.05), joined.mkString(","))
    val certified = operators.Relational.q234HllErrorCert(spark, sf)
      .collect()
    assert(certified.forall(_.getBoolean(3)),
      certified.mkString("\n"))
  }

  test("q3 joins the nation dimension via broadcast hash join") {
    val plan = operators.Relational.q3JoinAgg(spark, sf)
      .queryExecution.executedPlan.toString
    // the explicit broadcast() must plan the nation join as BHJ with
    // nation on the build side (other joins may also broadcast at the
    // tiny test SF — that's threshold-dependent and not asserted)
    assert("BroadcastHashJoin \\[c_nationkey[^\\]]*\\], \\[n_nationkey".r
      .findFirstIn(plan).isDefined, plan.take(3000))
  }

  test("hll sketch rollup estimates track exact distinct counts") {
    import org.apache.spark.sql.functions._
    val exact = Tables.documents(spark, sf)
      .groupBy("lang").agg(countDistinct("doc_id").as("exact"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    operators.ModernSql.q91HllRollup(spark, sf).collect().foreach { r =>
      val est = r.getLong(2)
      val e = exact(r.getString(0))
      // lgConfigK=14 → relative error well under 2% at any cardinality
      assert(math.abs(est - e).toDouble / e < 0.02, s"${r.getString(0)}")
    }
  }

  test("approx_top_k counts are exact and nothing above the kth " +
      "frequency is missed") {
    import org.apache.spark.sql.functions._
    val exact = Tables.part(spark, sf)
      .groupBy("p_brand").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = operators.ModernSql.q129ApproxTopK(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.size == math.min(8, exact.size))
    // sketch counts must be exact at this cardinality (far below the
    // tracked-items bound), and the returned set must contain every
    // brand whose exact count strictly exceeds the kth frequency
    // (which items tie-break INTO the top-k is sketch-internal)
    got.foreach { case (b, n) => assert(exact(b) == n, b) }
    val kth = got.values.min
    exact.filter(_._2 > kth).keys.foreach(b => assert(got.contains(b), b))
  }

  test("sql udf results are analyzer-inlined, not opaque calls") {
    // the scalar SQL UDF body must inline into the plan: no
    // ScalaUDF/Invoke barrier, aggregation stays codegen-friendly
    val plan = operators.ModernSql.q127SqlScalarUdf(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("ScalaUDF"), plan.take(2000))
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query has an oracle or is explicitly rows-only") {
    val noOracle = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(noOracle.subsetOf(SparkEntry.rowsOnly),
      s"queries missing oracle SQL and not declared rows-only: $noOracle")
  }

  test("q1_agg aggregates are exact decimals rendered as double") {
    val row = operators.Relational.q1Agg(spark, sf).collect().head
    assert(row.getAs[Double]("sum_qty") > 0)
    assert(row.getAs[Long]("count_order") > 0)
  }

  test("q7_window_topn emits at most 3 rows per customer") {
    val df = operators.Relational.q7WindowTopN(spark, sf)
    val maxPer = df.groupBy("o_custkey").count()
      .agg(org.apache.spark.sql.functions.max("count")).collect().head.getLong(0)
    assert(maxPer <= 3)
  }

  test("broadcast join plan for q4 contains BroadcastHashJoin") {
    val plan = operators.Relational.q4BroadcastJoin(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
  }

  test("q2 filter and projection push into the parquet scan") {
    val plan = operators.Relational.q2FilterProject(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate)"), plan.take(2000))
  }

  test("two-level banded skyline equals the brute-force Pareto " +
      "frontier") {
    val sky = operators.Quality.q271Skyline(spark, sf).collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[Long]("doc_id")))
      .toSet
    // brute-force dominance per lang on the sf0.001 fixture
    val pts = operators.TextStats.hashedScores(spark, sf)
      .select("doc_id", "lang", "n_tokens", "score").collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[Long]("doc_id"),
        r.getAs[Long]("n_tokens"), r.getAs[Double]("score")))
    val expected = pts.groupBy(_._1).toSeq.flatMap { case (lang, ps) =>
      ps.filter { p =>
        !ps.exists(q => q._3 >= p._3 && q._4 >= p._4 &&
          (q._3 > p._3 || q._4 > p._4))
      }.map(p => (lang, p._2)).toSeq
    }.toSet
    assert(sky == expected)
  }

  test("ACF is a valid correlation sequence over the dense hourly grid") {
    val rows = operators.Events.q272Acf(spark, sf).collect()
    assert(rows.length == 24)
    val n0 = rows.find(_.getAs[Int]("lag") == 1).get
      .getAs[Long]("n_pairs") + 1
    rows.foreach { r =>
      val a = r.getAs[Double]("acf")
      // Cauchy-Schwarz bounds the lagged product sum by the variance
      assert(a >= -1.0 && a <= 1.0, s"acf=$a")
      // a dense grid loses exactly `lag` pairs at the boundary
      assert(r.getAs[Long]("n_pairs") == n0 - r.getAs[Int]("lag"))
    }
  }

  test("Theil-Sen: every day-pair contributes one slope and the fit " +
      "is finite") {
    val rows = operators.Events.q278TheilSen(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val n = r.getAs[Long]("n_days")
      assert(r.getAs[Long]("n_pairs") == n * (n - 1) / 2)
      assert(!r.getAs[Double]("slope").isNaN)
      assert(!r.getAs[Double]("intercept").isNaN)
      // a ~constant-rate synthetic feed can't have a steep robust trend
      assert(math.abs(r.getAs[Double]("slope")) < 100.0)
    }
  }

  test("deletion propagation: counts reconcile, zero residual " +
      "references, staleness only in labels") {
    val rows = operators.Dedup.q279DeletionPropagation(spark, sf).collect()
    assert(rows.map(_.getAs[String]("artifact")).toSet ==
      Set("bands", "chunks", "corpus", "labels"))
    rows.foreach { r =>
      assert(r.getAs[Long]("rows_before") -
        r.getAs[Long]("rows_deleted") == r.getAs[Long]("rows_after"))
      // the certificate: the propagated artifact holds NO reference
      // to the deletion set
      assert(r.getAs[Long]("residual_refs") == 0L)
      if (r.getAs[String]("artifact") != "labels")
        assert(r.getAs[Long]("n_stale") == 0L)
    }
    val corpus = rows.find(_.getAs[String]("artifact") == "corpus").get
    val expected = graft.Tables.documents(spark, sf)
      .filter(org.apache.spark.sql.functions.col("doc_id") % 101 === 0)
      .count()
    assert(corpus.getAs[Long]("rows_deleted") == expected)
  }

  test("window funnel: monotone steps, bounded by the unbounded " +
      "funnel, latencies inside the chained windows") {
    val rows = operators.Events.q283WindowFunnel(spark, sf).collect()
      .map(r => r.getAs[String]("step") -> r).toMap
    val n1 = rows("1_signup").getAs[Long]("n_users")
    val n2 = rows("2_click_24h").getAs[Long]("n_users")
    val n3 = rows("3_purchase_24h").getAs[Long]("n_users")
    assert(n1 >= n2 && n2 >= n3)
    assert(rows("1_signup").getAs[Double]("median_hours_from_signup")
      == 0.0)
    if (n2 > 0)
      assert(rows("2_click_24h")
        .getAs[Double]("median_hours_from_signup") <= 24.0)
    if (n3 > 0)
      assert(rows("3_purchase_24h")
        .getAs[Double]("median_hours_from_signup") <= 48.0)
    // the 24h bound can only lose conversions vs the unbounded q117
    val unbounded = operators.Events.q117Funnel(spark, sf).collect()
      .map(r => r.getAs[String]("step") -> r.getAs[Long]("n_users"))
      .toMap
    assert(n3 <= unbounded("3_purchase_after"))
    assert(n1 == unbounded("1_signup"))
  }

  test("attribution: both models book the same conversion total") {
    val rows = operators.Events.q284Attribution(spark, sf).collect()
    assert(rows.nonEmpty)
    val ft = rows.map(_.getAs[Long]("n_first_touch")).sum
    val lt = rows.map(_.getAs[Long]("n_last_touch")).sum
    // every attributed user gets exactly one first and one last touch
    assert(ft == lt && ft > 0)
    // purchase can never credit itself
    assert(!rows.exists(_.getAs[String]("channel") == "purchase"))
  }

  test("seasonality grid: cells partition the events and expected " +
      "mass reproduces the margins") {
    val rows = operators.Events.q285SeasonalityProfile(spark, sf).collect()
    val total = graft.Tables.events(spark, sf).count()
    assert(rows.map(_.getAs[Long]("n")).sum == total)
    rows.foreach { r =>
      assert(r.getAs[Int]("dow") >= 0 && r.getAs[Int]("dow") <= 6)
      assert(r.getAs[Int]("hr") >= 0 && r.getAs[Int]("hr") <= 23)
      assert(r.getAs[Double]("expected") > 0.0)
    }
    // expected = row margin x col margin / grand, recomputed from the
    // emitted cells themselves (conservation needs a FULL grid, which
    // a sparse fixture doesn't have — margins are the real invariant)
    val rowTot = rows.groupBy(_.getAs[Int]("dow"))
      .map { case (k, v) => k -> v.map(_.getAs[Long]("n")).sum }
    val colTot = rows.groupBy(_.getAs[Int]("hr"))
      .map { case (k, v) => k -> v.map(_.getAs[Long]("n")).sum }
    rows.foreach { r =>
      val e = rowTot(r.getAs[Int]("dow")).toDouble *
        colTot(r.getAs[Int]("hr")).toDouble / total.toDouble
      assert(math.abs(r.getAs[Double]("expected") - e) < 1e-6)
    }
  }

  test("transition matrix: rows are probability distributions and " +
      "transitions account for every non-final event") {
    val rows = operators.Events.q286TransitionMatrix(spark, sf).collect()
    assert(rows.nonEmpty)
    val byCur = rows.groupBy(_.getAs[String]("cur"))
    byCur.foreach { case (_, rs) =>
      val pSum = rs.map(_.getAs[Double]("p")).sum
      assert(math.abs(pSum - 1.0) < 1e-6)
      val h = rs.head.getAs[Double]("row_entropy")
      assert(rs.forall(_.getAs[Double]("row_entropy") == h))
      assert(h >= 0.0 && h <= math.log(5.0) + 1e-9)
    }
    val nUsers = graft.Tables.events(spark, sf)
      .select("user_id").distinct().count()
    val nEvents = graft.Tables.events(spark, sf).count()
    assert(rows.map(_.getAs[Long]("n")).sum == nEvents - nUsers)
  }

  test("Kaplan-Meier: survival is a non-increasing (0,1] curve and " +
      "risk sets shrink") {
    val rows = operators.Events.q287KaplanMeier(spark, sf).collect()
    assert(rows.nonEmpty)
    var prevS = 1.0
    var prevRisk = Long.MaxValue
    rows.foreach { r =>
      val s = r.getAs[Double]("survival")
      assert(s > 0.0 && s <= 1.0 && s <= prevS + 1e-12)
      prevS = s
      val risk = r.getAs[Long]("n_at_risk")
      assert(risk <= prevRisk)
      prevRisk = risk
      assert(r.getAs[Long]("n_deaths") + r.getAs[Long]("n_censored")
        <= risk)
    }
  }

  test("top paths: at most 3 steps per path, counts ranked") {
    val rows = operators.Events.q288TopPaths(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 10)
    var prev = Long.MaxValue
    rows.foreach { r =>
      assert(r.getAs[String]("path").split(">").length <= 3)
      val n = r.getAs[Long]("n_sessions")
      assert(n <= prev && n > 0)
      prev = n
    }
  }

  test("CUSUM changepoint: peak sign agrees with the segment-mean " +
      "ordering") {
    val rows = operators.Events.q273Cusum(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_days") > 0)
      val c = r.getAs[Double]("cusum")
      if (!r.isNullAt(r.fieldIndex("post_mean")) && c != 0.0) {
        val (pre, post) =
          (r.getAs[Double]("pre_mean"), r.getAs[Double]("post_mean"))
        // a negative CUSUM trough means the prefix ran below average,
        // so the suffix must run above it (and vice versa)
        if (c < 0) assert(pre < post) else assert(pre > post)
      }
    }
  }

  test("market basket equals the brute-force pair relation and its " +
      "rule arithmetic is internally consistent") {
    import org.apache.spark.sql.functions.col
    val got = operators.Relational.q292MarketBasket(spark, sf).collect()
    assert(got.nonEmpty && got.length <= 20)
    // brute force on the fixture, driver-side
    val baskets = graft.Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_partkey")).distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val byOrder = baskets.groupBy(_._1).map { case (k, v) =>
      k -> v.map(_._2).sorted }
    val nOrders = byOrder.size.toDouble
    val cItem = baskets.groupBy(_._2).map { case (k, v) => k -> v.length }
    val cAb = byOrder.values.flatMap { ps =>
      for (i <- ps.indices; j <- (i + 1) until ps.length)
        yield (ps(i), ps(j))
    }.groupBy(identity).map { case (k, v) => k -> v.size }
    def r9(x: Double) = BigDecimal(x)
      .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expected = cAb.toSeq.filter(_._2 >= 3).map { case ((a, b), c) =>
      val lift = r9(c.toDouble * nOrders /
        (cItem(a).toDouble * cItem(b).toDouble))
      (a, b, c.toLong, lift)
    }.sortBy { case (a, b, _, lift) => (-lift, a, b) }.take(20)
    assert(got.map(r => (r.getAs[Long]("part_a"), r.getAs[Long]("part_b"),
      r.getAs[Long]("c_ab"), r.getAs[Double]("lift"))).toSeq == expected)
    got.foreach { r =>
      val (cab, sup, conf, lift) = (r.getAs[Long]("c_ab"),
        r.getAs[Double]("support"), r.getAs[Double]("confidence"),
        r.getAs[Double]("lift"))
      assert(cab >= 3 && sup > 0.0 && sup <= conf && conf <= 1.0)
      // lift = confidence / P(b)  (within rounding)
      val pb = cItem(r.getAs[Long]("part_b")).toDouble / nOrders
      assert(math.abs(lift - conf / pb) < 1e-6)
    }
  }

  test("bot profile classifies metronome, burst, and organic users " +
      "and excludes short histories") {
    import java.sql.Timestamp
    import java.time.Instant
    import spark.implicits._
    def t(s: Long) = Timestamp.from(Instant.ofEpochSecond(1700000000L + s))
    val rows =
      // user 1: 6 events exactly 60s apart — machine cadence
      (0 until 6).map(i => (1L, t(60L * i), i.toLong)) ++
      // user 2: 5 events on one timestamp — replay burst
      (0 until 5).map(i => (2L, t(0), 10L + i)) ++
      // user 3: bursty-human gaps 10,50,100,1000,10000s (cumulative)
      Seq(0L, 10L, 60L, 160L, 1160L, 11160L).zipWithIndex
        .map { case (s, i) => (3L, t(s), 20L + i) } ++
      // user 4: only 3 events — under the >=5 floor, excluded
      (0 until 3).map(i => (4L, t(7L * i), 30L + i))
    val got = operators.Events.botProfileFrom(
      rows.toDF("user_id", "ts", "event_id")).collect()
      .map(r => r.getAs[String]("behavior") ->
        (r.getAs[Long]("n_users"), r.getAs[Long]("n_events"),
          r.getAs[Double]("median_of_median_gap_s"))).toMap
    assert(got.keySet == Set("burst", "regular", "organic"))
    assert(got("regular") == ((1L, 6L, 60.0)))
    assert(got("burst") == ((1L, 5L, 0.0)))
    // user 3 gaps sorted [10,50,100,1000,10000]: median 100, p90 6400,
    // p10 26 — spread/median 63.74 is organic by a wide margin
    assert(got("organic") == ((1L, 6L, 100.0)))
  }
}
