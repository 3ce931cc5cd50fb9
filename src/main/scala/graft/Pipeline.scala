package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Cols.dsum
import graft.operators.Cleanse
import graft.sources.Ingest

/** The staged extract→transform→load pipeline (SURVEY.md §2A O27) —
  * the reference DAG (`/root/reference/dags/etl_csv_to_dwh.py:36`)
  * collapsed into one Spark driver: stage functions share a
  * SparkSession, hand off through filesystem zones (restartable, like
  * the reference's shared volume), and each stage runs under the same
  * retry budget the DAG declares (retries=1).
  */
object Pipeline {

  /** The DAG's retry semantics (`etl_csv_to_dwh.py:5-9`): n retries
    * after the first attempt, fixed delay between attempts. When every
    * attempt fails, the last failure is thrown with each earlier
    * attempt's failure attached as suppressed, in attempt order. */
  def retry[T](retries: Int, delayMs: Long = 0)(f: => T): T = {
    val failed = scala.collection.mutable.ArrayBuffer.empty[Throwable]
    while (true) {
      try return f
      catch {
        // NonFatal only: never retry through OOM/interrupt — a fatal
        // error means the JVM (or the caller's cancellation) wins
        case scala.util.control.NonFatal(e) if failed.size < retries =>
          failed += e
          if (delayMs > 0) Thread.sleep(delayMs)
        case scala.util.control.NonFatal(e) =>
          failed.filterNot(_ eq e).foreach(e.addSuppressed)
          throw e
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** extract: newest CSV in the input zone, staged into processing
    * (O1+O2). None = nothing to do, matching the reference's no-op
    * message path. */
  def extract(inputDir: String, stagingDir: String): Option[Path] =
    Ingest.latestFile(inputDir).map(Ingest.stageCopy(_, stagingDir))

  /** transform: cleanse the staged CSV and write the clean parquet
    * zone (O3 → O4–O20 → O21). The cleanse defaults to the reference's
    * netflix-titles semantics; callers pass any DataFrame=>DataFrame
    * for other shapes. */
  def transform(spark: SparkSession, stagedCsv: Path, cleanDir: String,
      cleanse: DataFrame => DataFrame = Cleanse.cleanseTitles): Unit =
    cleanse(Ingest.readCsv(spark, stagedCsv.toString))
      .write.mode(SaveMode.Overwrite).parquet(cleanDir)

  /** load: clean parquet → CSV zone (O22+O23), with the S3A conf
    * applied first when credentials exist in the environment (O24/O26)
    * so the same code writes `s3a://` URIs on a real cluster. */
  def load(spark: SparkSession, cleanDir: String, outDir: String): Unit = {
    Ingest.s3CredentialsFromEnv().foreach { case (a, s) =>
      Ingest.configureS3A(spark,
        sys.env.getOrElse("S3_ENDPOINT", "s3.amazonaws.com"), a, s)
    }
    Ingest.writeCsv(spark.read.parquet(cleanDir), outDir, singleFile = true)
  }

  /** Run the full pipeline over directory zones. Returns true when a
    * file was processed, false when the input zone was empty. */
  def run(spark: SparkSession, inputDir: String, stagingDir: String,
      cleanDir: String, outDir: String, retries: Int = 1,
      cleanse: DataFrame => DataFrame = Cleanse.cleanseTitles): Boolean =
    retry(retries) {
      extract(inputDir, stagingDir) match {
        case None => false
        case Some(staged) =>
          transform(spark, staged, cleanDir, cleanse)
          load(spark, cleanDir, outDir)
          true
      }
    }

  /** Land `df` as ONE named .csv file (the reference's input shape:
    * single files in a drop directory, `etl/extract.py:10`). Spark
    * writes a part-file directory; the driver moves the single part
    * into place — file staging is coordinator work by design. */
  private def writeSingleCsv(df: DataFrame, dir: String,
      fileName: String): Unit = {
    val scratch = s"$dir/_scratch_$fileName"
    Ingest.writeCsv(df, scratch, singleFile = true)
    val part = Ingest.latestFile(scratch, "part-*.csv")
      .getOrElse(sys.error(s"no part file under $scratch"))
    Files.createDirectories(Paths.get(dir))
    Files.move(part, Paths.get(dir, fileName),
      StandardCopyOption.REPLACE_EXISTING)
    // remove the scratch dir (part file already moved out)
    org.apache.hadoop.fs.FileSystem.get(
      df.sparkSession.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(scratch), true)
  }

  /** Catalog query: the staged pipeline end-to-end (O1+O2+O3 → O21 →
    * O22+O23 → O27 retry envelope), oracle-verified by read-back. The
    * input zone holds TWO dated drops — an older decoy (half the rows)
    * and the current full dump; the latest-file pick must choose the
    * newer one or the aggregate hash fails. The final aggregate runs
    * over the pipeline's CSV out-zone but must match the oracle on the
    * ORIGINAL customer parquet: any staging/quoting/inference drift in
    * extract→transform→load corrupts the hash. */
  def q84PipelineStaged(spark: SparkSession, dir: String): DataFrame = {
    val base = Scratch.dir("q84_pipeline")
    val (input, staging, clean, out) =
      (s"$base/input", s"$base/staging", s"$base/clean", s"$base/out")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(base), true)
    val cust = graft.Tables.customer(spark, dir)
      .select("c_custkey", "c_mktsegment", "c_nationkey", "c_acctbal")
    writeSingleCsv(cust.filter(col("c_custkey") % 2 === 0),
      input, "customer_2020.csv") // stale decoy: must NOT be picked
    writeSingleCsv(cust, input, "customer_2024.csv")
    val processed = run(spark, input, staging, clean, out,
      cleanse = df => df.filter(col("c_acctbal").isNotNull))
    require(processed, s"pipeline found no input under $input")
    Ingest.readCsv(spark, out)
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_customers"),
        countDistinct(col("c_nationkey")).as("n_nations"),
        dsum(col("c_acctbal")).as("total_acctbal"))
      .orderBy(col("c_mktsegment"))
  }

  /** The reference DAG's DECLARED shape end-to-end — "CSV -> Spark ->
    * MySQL" (`/root/reference/dags/etl_csv_to_dwh.py:13`), which the
    * reference itself never implements (its real sink is S3): dated
    * CSV drops in an input zone → latest-file pick + staging (O1+O2)
    * → CSV scan (O3) → cleanse filter → JDBC DWH load (embedded
    * Derby standing in for MySQL — same two calls take a networked
    * URL) → read back FROM THE DWH with a range-partitioned scan →
    * aggregate, under the DAG's retry envelope (O27). The oracle runs
    * on the ORIGINAL part parquet, so the hash witnesses every leg of
    * the declared path: file pick, CSV typing, JDBC type mapping,
    * batched inserts, and the partition-bounded read-back. */
  def q202DwhLoad(spark: SparkSession, dir: String): DataFrame = {
    val base = Scratch.dir("q202_dwh")
    val (input, staging) = (s"$base/input", s"$base/staging")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(base), true)
    val part = graft.Tables.part(spark, dir)
      .select("p_partkey", "p_brand", "p_type", "p_size", "p_retailprice")
    writeSingleCsv(part.filter(col("p_partkey") % 2 === 0),
      input, "part_2020.csv") // stale decoy: must NOT be picked
    writeSingleCsv(part, input, "part_2024.csv")
    // the Derby db lives OUTSIDE the cleaned zone: the embedded engine
    // keeps a booted database cached by path, so deleting its files
    // between runs would corrupt it — table-level Overwrite handles
    // re-runs instead (drop/recreate, like q196)
    val url = s"jdbc:derby:${Scratch.dir("q202_dwh_db")};create=true"
    retry(1) {
      val staged = extract(input, staging)
        .getOrElse(sys.error(s"no input under $input"))
      val clean = Ingest.readCsv(spark, staged.toString)
        .filter(col("p_size").isNotNull)
      Ingest.writeJdbc(clean, url, "graft_dwh_part")
    }
    val hi = part.agg(max(col("p_partkey"))).head().getLong(0)
    Ingest.readJdbc(spark, url, "graft_dwh_part",
        rangePartition = Some(("p_partkey", 1L, hi + 1, 4)))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_parts"),
        dsum(col("p_retailprice")).as("total_retail"),
        min(col("p_type")).as("min_type"))
      .orderBy(col("p_brand"))
  }

  def main(args: Array[String]): Unit = {
    val Array(inputDir, stagingDir, cleanDir, outDir) = args
    val spark = GraftSession()
    try {
      val processed = run(spark, inputDir, stagingDir, cleanDir, outDir)
      println(if (processed) s"[pipeline] wrote $outDir"
              else "[pipeline] no input files; nothing to do")
    } finally spark.stop()
  }
}
