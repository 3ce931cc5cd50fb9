package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Ingest

class IngestPipelineSpec extends AnyFunSuite {
  import TestSpark._

  /** A fresh directory inside `root`, the test's temp directory. */
  private def mkTmp(root: String): String =
    Files.createTempDirectory(Paths.get(root), "d").toString

  test("latestFile picks the lexicographically last CSV, None when empty") {
    withTempDir("graft_ingest") { root =>
      val dir = mkTmp(root)
      assert(Ingest.latestFile(dir).isEmpty)
      Files.writeString(Paths.get(dir, "2024-01-01_titles.csv"), "a\n1")
      Files.writeString(Paths.get(dir, "2024-02-01_titles.csv"), "a\n2")
      Files.writeString(Paths.get(dir, "notes.txt"), "ignored")
      assert(Ingest.latestFile(dir).map(_.getFileName.toString)
        .contains("2024-02-01_titles.csv"))
    }
  }

  test("stageCopy overwrites idempotently") {
    withTempDir("graft_ingest") { root =>
      val src = Paths.get(mkTmp(root), "in.csv")
      Files.writeString(src, "x\n1")
      val staging = mkTmp(root)
      val first = Ingest.stageCopy(src, staging)
      Files.writeString(src, "x\n2")
      val second = Ingest.stageCopy(src, staging)
      assert(first == second)
      assert(Files.readString(second) == "x\n2")
    }
  }

  test("CSV write/read round-trips rows with commas and quotes") {
    withTempDir("graft_ingest") { root =>
      import spark.implicits._
      val df = Seq((1L, "plain"), (2L, "has, comma"), (3L, "has \"quote\""))
        .toDF("id", "s")
      val dir = mkTmp(root) + "/csv"
      Ingest.writeCsv(df, dir, singleFile = true)
      // inference types small ids as int — read positionally, not typed
      val back = Ingest.readCsv(spark, dir).orderBy("id")
        .collect().map(r => (r.get(0).toString.toLong, r.getString(1))).toSeq
      assert(back == Seq((1L, "plain"), (2L, "has, comma"),
        (3L, "has \"quote\"")))
    }
  }

  test("permissive CSV quarantines malformed rows instead of failing") {
    withTempDir("graft_ingest") { root =>
      import org.apache.spark.sql.types._
      val dir = mkTmp(root)
      Files.writeString(Paths.get(dir, "dirty.csv"),
        "id,n\n1,10\nbad-row-no-number,not-an-int\n3,30")
      val schema = StructType(Seq(
        StructField("id", IntegerType), StructField("n", IntegerType)))
      val df = Ingest.readCsvPermissive(spark, dir, schema).cache()
      assert(df.count() == 3)
      val corrupt = df.filter("_corrupt IS NOT NULL").collect()
      assert(corrupt.length == 1)
      assert(corrupt.head.getAs[String]("_corrupt")
        .contains("bad-row-no-number"))
      assert(df.filter("_corrupt IS NULL").count() == 2)
      df.unpersist()
    }
  }

  test("configureS3A plumbs the Hadoop conf surface") {
    Ingest.configureS3A(spark, "s3.example.test", "AK", "SK")
    val h = spark.sparkContext.hadoopConfiguration
    assert(h.get("fs.s3a.endpoint") == "s3.example.test")
    assert(h.get("fs.s3a.access.key") == "AK")
    assert(h.get("fs.s3a.aws.credentials.provider")
      .contains("SimpleAWSCredentialsProvider"))
  }

  test("s3 credentials come from env, never defaults") {
    assert(Ingest.s3CredentialsFromEnv(Map.empty).isEmpty)
    assert(Ingest.s3CredentialsFromEnv(
      Map("ACCESS_KEY" -> "a", "SECRET_ACCESS_KEY" -> "s"))
      .contains(("a", "s")))
  }

  test("retry retries the declared number of times, then rethrows") {
    var calls = 0
    val got = Pipeline.retry(2) {
      calls += 1
      if (calls < 3) sys.error("flaky") else "ok"
    }
    assert(got == "ok" && calls == 3)
    var calls2 = 0
    val e = intercept[RuntimeException] {
      Pipeline.retry(2) { calls2 += 1; sys.error(s"attempt $calls2") }
    }
    assert(calls2 == 3)
    // the last failure is thrown; the earlier ones ride on it
    assert(e.getMessage == "attempt 3")
    assert(e.getSuppressed.map(_.getMessage).toSeq ==
      Seq("attempt 1", "attempt 2"))
  }

  test("staged pipeline runs extract→transform→load end to end") {
    withTempDir("graft_ingest") { root =>
      val input = mkTmp(root)
      val staging = mkTmp(root)
      val clean = mkTmp(root) + "/clean"
      val out = mkTmp(root) + "/out"
      // two generations in the input zone: only the newest is processed
      val header = "show_id,type,title,director,cast,country,date_added," +
        "release_year,rating,duration,listed_in,description"
      Files.writeString(Paths.get(input, "batch1.csv"),
        header + "\ns0,TV Show,Old One,d,c,France,x,2001,TV-MA,1 Season," +
          "Dramas,old")
      Files.writeString(Paths.get(input, "batch2.csv"),
        header + "\ns1,TV Show,New One,d,c,Spain,x,2020,TV-14,1 Season," +
          "Crime TV Shows,new")
      assert(Pipeline.run(spark, input, staging, clean, out))
      val cleaned = spark.read.parquet(clean).collect()
      assert(cleaned.map(_.getAs[String]("show_id")).toSeq == Seq("s1"))
      val csv = Ingest.readCsv(spark, out).collect()
      assert(csv.length == 1 && csv.head.getAs[String]("country") == "Spain")
    }
  }

  test("pipeline reports false on an empty input zone") {
    withTempDir("graft_ingest") { root =>
      assert(!Pipeline.run(spark, mkTmp(root), mkTmp(root), mkTmp(root) + "/c",
        mkTmp(root) + "/o"))
    }
  }

  test("mergeApply inserts, updates, deletes on the key") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val base = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("k", "s", "v")
    val changes = Seq(
      (2L, "b2", 21.0, "U"), // update
      (3L, "c", 30.0, "D"),  // delete
      (4L, "d", 40.0, "U"))  // insert
      .toDF("k", "s", "v", "op")
    val out = operators.Egress.mergeApply(base, changes, "k", "op")
      .orderBy(col("k")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    assert(out == Seq((1L, "a", 10.0), (2L, "b2", 21.0), (4L, "d", 40.0)))
  }

  test("compact rewrites many small files into few size-targeted ones") {
    withTempDir("graft_ingest") { root =>
      import spark.implicits._
      val in = mkTmp(root) + "/small"
      val outDir = mkTmp(root) + "/compacted"
      (1 to 1000).map(i => (i.toLong, s"row$i")).toDF("id", "s")
        .repartition(32).write.parquet(in)
      def parquetFiles(d: String) =
        Files.list(Paths.get(d)).filter(_.toString.endsWith(".parquet")).count()
      assert(parquetFiles(in) == 32)
      val n = operators.Egress.compact(spark, in, outDir, 64L * 1024 * 1024)
      assert(n == 1 && parquetFiles(outDir) == 1)
      assert(spark.read.parquet(outDir).count() == 1000)
    }
  }

  test("DSv2 source prunes columns and pushes id-range filters into " +
      "the scan") {
    import org.apache.spark.sql.functions.col
    val df = spark.read.format("graft.sources.SyntheticSource")
      .option("rows", 5000L).option("slices", 8).load()
      .filter(col("id") >= 1000 && col("id") < 4000)
      .select(col("bucket"))
    val plan = df.queryExecution.executedPlan.toString
    // the Scan's description reports the narrowed range and the
    // pruned reader schema — both must reflect the query, and the
    // pushed range must not be re-generated then discarded
    assert(plan.contains("range=[1000, 4000)"), plan.take(3000))
    assert("cols=(id,)?bucket\\b".r.findFirstIn(plan).isDefined,
      plan.take(3000))
    assert(!plan.contains("fp"), plan.take(3000))
    assert(df.count() == 3000)
  }

  test("DSv2 source plans one input partition per non-empty slice") {
    val df = spark.read.format("graft.sources.SyntheticSource")
      .option("rows", 100L).option("slices", 8).load()
    assert(df.rdd.getNumPartitions == 8)
    assert(df.count() == 100)
    // more slices than rows: empty splits are dropped, not planned
    val tiny = spark.read.format("graft.sources.SyntheticSource")
      .option("rows", 3L).option("slices", 8).load()
    assert(tiny.rdd.getNumPartitions == 3)
    assert(tiny.count() == 3)
  }

  test("DSv2 source answers grouped aggregates in closed form " +
      "(aggregate pushdown, no row generation)") {
    import org.apache.spark.sql.functions._
    val df = operators.Egress.q195SourceAggPushdown(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedAggregates=[count, sum, min, max]"),
      plan.take(3000))
    assert(plan.contains("GroupedBy=[bucket]"), plan.take(3000))
    // filter pushdown composes: the aggregated range must be narrowed
    assert(plan.contains("range=[100000, 1000000)"), plan.take(3000))
    val r = df.collect()
    assert(r.length == 16)
    // bucket 0 over [100000, 1000000): first 100000, last 999984
    val b0 = r.find(_.getInt(0) == 0).get
    assert(b0.getLong(1) == 56250L)
    assert(b0.getLong(3) == 100000L && b0.getLong(4) == 999984L)
    // an unsupported aggregate (avg of fp length) must NOT be pushed
    val fallback = spark.read.format("graft.sources.SyntheticSource")
      .option("rows", 1000L).load()
      .agg(avg(length(col("fp"))).as("a"))
    val fplan = fallback.queryExecution.executedPlan.toString
    assert(!fplan.contains("PushedAggregates"), fplan.take(3000))
    assert(fallback.collect()(0).getDouble(0) == 32.0)
  }

  test("jdbc roundtrip through embedded Derby is lossless and the " +
      "read is range-partitioned") {
    import org.apache.spark.sql.functions.col
    val url = s"jdbc:derby:${Scratch.dir("jdbc_spec")};create=true"
    val src = Tables.supplier(spark, sf)
    graft.sources.Ingest.writeJdbc(src, url, "spec_supplier")
    val back = graft.sources.Ingest.readJdbc(spark, url, "spec_supplier",
      rangePartition = Some(("s_suppkey", 1L, 1000L, 4)))
    // the range split parallelizes the scan: 4 cursors, not 1
    assert(back.rdd.getNumPartitions == 4)
    // every row survives the type mapping + batching + split exactly
    val a = src.collect().map(_.toSeq).toSet
    val b = back.select(src.columns.map(col).toIndexedSeq: _*)
      .collect().map(_.toSeq).toSet
    assert(a == b)
  }
}
