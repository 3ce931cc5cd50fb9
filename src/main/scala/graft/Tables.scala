package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-generated testdata tables (TESTDATA.md).
  *
  * Every loader takes the scale-factor directory so the same query code
  * runs at sf0.001 (smoke), sf0.01 (oracle) and sf0.1 (bench). Loads are
  * plain parquet scans — column pruning and predicate pushdown happen in
  * the queries that consume them, so at 100 TB the scan only reads the
  * row groups / columns the plan needs.
  */
object Tables {
  /** Open `$dir/$name.parquet`. A single file opens against its
    * memoized schema, so only the first open of a file pays the Spark
    * job that infers the schema from the footer; every later open
    * plans without a job. A directory (a multi-file table) keeps the
    * plain inferring read. */
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val p = s"$dir/$name.parquet"
    fileSchema(spark, p) match {
      case Some(s) => spark.read.schema(s).parquet(p)
      case None    => spark.read.parquet(p)
    }
  }

  /** Session settings that change what parquet schema inference
    * returns for the same file; each is part of the memo key. */
  private val schemaSettings = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp")

  /** Inferred schema of the single parquet file at `p`, memoized per
    * (qualified path, length, modification time, schema settings): a
    * rewritten file or a changed setting is inferred again. None for a
    * directory or a missing path, which the plain read handles (and
    * reports) as before. */
  private def fileSchema(spark: SparkSession, p: String): Option[StructType] = {
    val path = new Path(p)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val st =
      try fs.getFileStatus(path)
      catch { case _: java.io.FileNotFoundException => return None }
    if (st.isDirectory) None
    else {
      val key = (fs.makeQualified(path).toString, st.getLen,
        st.getModificationTime, schemaSettings.map(spark.conf.getOption))
      Some(schemaCache.getOrElseUpdate(key, spark.read.parquet(p).schema))
    }
  }

  private val schemaCache = scala.collection.concurrent.TrieMap
    .empty[(String, Long, Long, Seq[Option[String]]), StructType]

  def region(s: SparkSession, d: String): DataFrame     = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = table(s, d, "lineitem")

  /** events.parquet has shipped in two generations: `ts` as
    * TIMESTAMP(NANOS) (rejected by Spark's vectorized reader — read as
    * long under the legacy conf) and as TIMESTAMP(MICROS) without the
    * UTC-adjusted flag (read as TIMESTAMP_NTZ). [[normalizeEventsTs]]
    * folds both into one µs `TimestampType` column so every downstream
    * query and stream sees a single schema regardless of which
    * generation is on disk. The legacy conf is also set at builder time
    * in Verify/Bench/tests; the set here keeps ad-hoc sessions working. */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // the MICROS/NTZ file generation is re-tagged as a UTC instant by
    // normalizeEventsTs; that cast is session-timezone dependent, so pin
    // UTC here too (all committed entry points already do) — an ad-hoc
    // session in a non-UTC JVM would otherwise silently shift every ts
    s.conf.set("spark.sql.session.timeZone", "UTC")
    normalizeEventsTs(table(s, d, "events"))
  }

  /** Raw on-disk schema of events.parquet (footer read only) — what a
    * streaming reader must declare before [[normalizeEventsTs]]. */
  def eventsFileSchema(s: SparkSession, d: String): StructType = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    s.conf.set("spark.sql.session.timeZone", "UTC") // see events()
    table(s, d, "events").schema
  }

  /** Normalize `ts` to a µs `TimestampType` whatever the file
    * generation. Nanos-as-long uses `div` (integral long division):
    * epoch nanos (~1.7e18) exceed double's 53-bit exact range, so float
    * division could be off by 1µs vs the DuckDB oracle's own ns→µs
    * truncation. The NTZ cast re-tags the wall clock as a UTC instant —
    * the session timezone is pinned to UTC, so the value is identical
    * to what the nanos path produced for the same instant. */
  def normalizeEventsTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema("ts").dataType match {
      case LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** Register every table as a temp view so the general SQL surface
    * (SURVEY.md §3 EP3 — the Athena-role entry point) works:
    * `spark.sql("SELECT ... FROM lineitem ...")`. Idempotent per
    * (session, dir): repeated calls from the query catalog are no-ops,
    * so concurrent queries sharing one session see stable views.
    *
    * CONTRACT: the views snapshot the parquet file listing at
    * registration (InMemoryFileIndex). If files under `dir` are
    * replaced while the session lives, call [[refreshViews]] to
    * re-register against the new listing — otherwise SQL-surface
    * queries keep reading the old file set.
    */
  def registerViews(spark: SparkSession, dir: String): Unit =
    registered.synchronized {
      // keyed by session identity (WeakHashMap: sessions can be GC'd);
      // re-register whenever the same session switches dirs so views
      // never silently point at a previous dir's tables
      if (!registered.get(spark).contains(dir)) {
        Seq("region", "nation", "customer", "supplier", "part", "orders",
            "lineitem", "documents", "embeddings")
          .foreach(n => table(spark, dir, n).createOrReplaceTempView(n))
        events(spark, dir).createOrReplaceTempView("events")
        registered.put(spark, dir)
      }
    }

  /** Invalidate the registerViews cache for a session whose `dir`
    * contents changed on disk; the next registerViews call rebuilds
    * every view (and thus re-lists the parquet files). */
  def refreshViews(spark: SparkSession): Unit =
    registered.synchronized { registered.remove(spark); () }

  private val registered =
    scala.collection.mutable.WeakHashMap[SparkSession, String]()

  /** Max o_orderkey of a scale-factor dir, memoized per dir — one
    * column-pruned scan per JVM, then free for every fixture guard. */
  def maxOrderKey(spark: SparkSession, dir: String): Long =
    maxKeyCache.getOrElseUpdate(dir,
      orders(spark, dir)
        .agg(org.apache.spark.sql.functions.max(
          org.apache.spark.sql.functions.col("o_orderkey")))
        .collect().head.getLong(0))

  /** Guard a fixture's synthetic key shift against keyspace collision
    * (r12 advice): TPC-H o_orderkey reaches ~6M×sf, so a literal
    * shift that is disjoint at sf0.1 silently collides with real keys
    * at sf≥~7 and the fixture would produce duplicate keys. Every
    * shifted-key stager calls this before writing. */
  def requireKeyHeadroom(spark: SparkSession, dir: String,
      shift: Long): Unit = {
    val mx = maxOrderKey(spark, dir)
    require(shift > mx,
      s"fixture key shift $shift <= max o_orderkey $mx at $dir — " +
        "shifted keys would collide with real ones; raise the shift " +
        "past the table's keyspace")
  }

  private val maxKeyCache =
    scala.collection.concurrent.TrieMap.empty[String, Long]
}
