package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Cols._
import graft.sources.Ingest

/** Source/sink operators as verified catalog queries: the CSV
  * ingest/egress cycle and the session-catalog table — the pieces of
  * the reference's extract/load surface that a unit test alone can't
  * witness through the driver's correctness gate.
  */
object Egress {


  /** The full file cycle, oracle-verified by read-back: parquet →
    * CSV sink (O23, header+delimiter) → latest-file pick (O1) →
    * staging copy (O2) → CSV scan with schema inference (O3) →
    * aggregate. The aggregation over the round-tripped data must
    * hash-match the oracle computed on the ORIGINAL parquet — any
    * quoting/typing/row-alignment corruption in the cycle fails the
    * gate. Temp zones live under target/tmp (driver-local by design;
    * the same writer targets s3a:// URIs at scale). */
  def q41CsvRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val csvZone = graft.Scratch.dir("q41_csv_zone")
    val staging = graft.Scratch.dir("q41_staging")
    Ingest.writeCsv(Tables.customer(spark, dir), csvZone, singleFile = true)
    val latest = Ingest.latestFile(csvZone, "part-*.csv")
      .getOrElse(sys.error(s"no CSV produced in $csvZone"))
    val staged = Ingest.stageCopy(latest, staging)
    Ingest.readCsv(spark, staged.toString)
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_customers"),
        dsum(col("c_acctbal")).as("total_acctbal"))
      .orderBy(col("c_mktsegment"))
  }

  /** JDBC round-trip through an embedded Derby database: supplier →
    * `writeJdbc` (overwrite: drop/create + batched inserts) →
    * `readJdbc` with a 4-way range-partitioned cursor on s_suppkey →
    * aggregate per nation. The oracle runs on the ORIGINAL parquet,
    * so any type mapping / batching / range-boundary bug in the JDBC
    * cycle (row lost at a partition bound, string truncation, double
    * drift) fails the hash. Derby is in-process — the same two calls
    * take any networked `jdbc:` URL, which is how the reference's
    * declared-but-unimplemented MySQL DWH leg would run. */
  def q196JdbcRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val url = s"jdbc:derby:${graft.Scratch.dir("q196_derby")};create=true"
    val src = Tables.supplier(spark, dir)
      .select(col("s_suppkey"), col("s_name"), col("s_nationkey"),
        col("s_acctbal"))
    Ingest.writeJdbc(src, url, "graft_supplier")
    val hi = src.agg(max(col("s_suppkey"))).head().getLong(0)
    Ingest.readJdbc(spark, url, "graft_supplier",
        rangePartition = Some(("s_suppkey", 1L, hi + 1, 4)))
      .groupBy(col("s_nationkey"))
      .agg(count(lit(1)).as("n_suppliers"),
        dsum(col("s_acctbal")).as("total_acctbal"),
        min(col("s_name")).as("first_name"))
      .orderBy(col("s_nationkey"))
  }

  /** Latest-wins upsert (SCD-1 compaction): one surviving row per key,
    * the one with the greatest (ts, event_id) — how a CDC feed or
    * re-delivered batch collapses to current state. Window row_number
    * per key; WindowGroupLimit keeps 1 row/key map-side, so the
    * shuffle carries keys, not history. */
  def q58LatestWins(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    Tables.events(spark, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_id"), col("ts"),
        col("event_type"), col("value"))
      .orderBy(col("user_id"))
  }

  /** JSON-lines source: documents written as jsonl, read back with an
    * explicit schema (inference over JSON is a full extra pass), and
    * aggregated — oracle runs on the original parquet, so any
    * serialization drift in the cycle fails the hash. */
  def q59JsonRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val zone = graft.Scratch.dir("q59_json_zone")
    Tables.documents(spark, dir).write.mode(SaveMode.Overwrite).json(zone)
    spark.read.schema(Tables.documents(spark, dir).schema).json(zone)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
      .orderBy(col("lang"))
  }

  /** ORC sink/source round-trip — the other columnar format the
    * engine writes; verified the same way. */
  def q60OrcRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val zone = graft.Scratch.dir("q60_orc_zone")
    Tables.orders(spark, dir).write.mode(SaveMode.Overwrite).orc(zone)
    spark.read.orc(zone)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        dsum(col("o_totalprice")).as("total"))
      .orderBy(col("o_orderstatus"))
  }

  /** MERGE semantics (CDC apply) composed from a full-outer join —
    * WHEN MATCHED AND op='D' DELETE / WHEN MATCHED UPDATE / WHEN NOT
    * MATCHED INSERT, the way an engine without a native MERGE builds
    * it. The join shuffles both sides on the merge key once;
    * change batches are usually tiny next to the base, so at scale
    * the planner broadcasts the change side and the base never moves.
    * Generic core + a catalog instance over `events` (base = even
    * event_ids, changes = every third id, error rows become deletes).
    * Caveat of the coalesce formulation: a NULL in a change column
    * falls back to the base value (set-to-NULL updates need an
    * explicit sentinel); fine for the non-null CDC payloads here.
    */
  def mergeApply(base: DataFrame, changes: DataFrame, key: String,
      opCol: String): DataFrame = {
    val dataCols = base.columns.filter(_ != key)
    val b = base.as("b")
    val c = changes.as("c")
    b.join(c, col(s"b.$key") === col(s"c.$key"), "full_outer")
      .filter(coalesce(col(s"c.$opCol"), lit("")) =!= "D")
      .select(
        coalesce(col(s"c.$key"), col(s"b.$key")).as(key) +:
          dataCols.map(d =>
            coalesce(col(s"c.$d"), col(s"b.$d")).as(d)): _*)
  }

  /** Catalog instance of mergeApply; `src` tags each surviving row
    * with its provenance so the oracle checks the match logic, not
    * just the survivor count. */
  def q74MergeApply(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"))
      .filter(col("event_id") < 1500)
    val base = ev.filter(col("event_id") % 2 === 0)
    val changes = ev.filter(col("event_id") % 3 === 0)
      .withColumn("value", col("value") + 1000)
      .withColumn("op",
        when(col("event_type") === "error", "D").otherwise("U"))
    val chgKeys = changes.select(col("event_id").as("k"), lit(1).as("is_chg"))
    mergeApply(base, changes, key = "event_id", opCol = "op")
      .join(chgKeys, col("event_id") === col("k"), "left")
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"),
        when(col("is_chg").isNotNull, "chg").otherwise("base").as("src"))
      .orderBy(col("event_id"))
  }

  /** Small-file compaction — THE operational fix at 100 TB ingest: a
    * directory of tiny files (here forced via repartition(64)) is
    * rewritten into size-targeted files; output file count =
    * ceil(bytes / target). Content equality is oracle-verified by the
    * read-back aggregate; the file-count drop is asserted in spec.
    * At scale this runs per partition-directory with the same
    * size-listing + repartition(n) — no shuffle beyond the rewrite. */
  def compact(spark: SparkSession, inDir: String, outDir: String,
      targetBytes: Long): Int = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(inDir), spark.sparkContext.hadoopConfiguration)
    val bytes = fs.listStatus(new org.apache.hadoop.fs.Path(inDir))
      .filter(f => f.isFile && !f.getPath.getName.startsWith("_"))
      .map(_.getLen).sum
    val nOut = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    spark.read.parquet(inDir).repartition(nOut)
      .write.mode(SaveMode.Overwrite).parquet(outDir)
    nOut
  }

  def q75Compaction(spark: SparkSession, dir: String): DataFrame = {
    val small = graft.Scratch.dir("q75_small_files")
    val compacted = graft.Scratch.dir("q75_compacted")
    Tables.documents(spark, dir).repartition(64)
      .write.mode(SaveMode.Overwrite).parquet(small)
    compact(spark, small, compacted, targetBytes = 64L * 1024 * 1024)
    spark.read.parquet(compacted)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        countDistinct(col("doc_id")).as("n_distinct_docs"))
      .orderBy(col("lang"))
  }

  /** Incremental rollup maintenance — how a 100 TB daily aggregate is
    * kept current WITHOUT rescanning history: the state zone stores
    * per-(priority, year) partial sums as exact decimals; a new ingest
    * batch contributes its own partials; merging is just re-summing
    * the associative partials. Here the orders table is split into a
    * "history" batch (materialized to the state zone) and a "new"
    * batch; the merged rollup must hash-match the oracle's full
    * recompute over everything — proving partial+merge ≡ recompute. */
  def q96IncrementalRollup(spark: SparkSession, dir: String): DataFrame = {
    val stateZone = graft.Scratch.dir("q96_rollup_state")
    val orders = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderpriority"),
        year(col("o_orderdate")).as("yr"), col("o_totalprice"))
    def partials(df: org.apache.spark.sql.DataFrame) =
      df.groupBy(col("o_orderpriority"), col("yr"))
        .agg(count(lit(1)).as("n_orders"),
          sum(dec(col("o_totalprice"))).as("partial_total"))
    // history batch → persisted state (the standing rollup). Split on
    // key parity so BOTH batches hit every (priority, year) group —
    // the merge genuinely combines overlapping partials.
    partials(orders.filter(col("o_orderkey") % 2 === 0))
      .write.mode(SaveMode.Overwrite).parquet(stateZone)
    // new batch arrives: merge its partials with the stored state
    spark.read.parquet(stateZone)
      .unionByName(partials(orders.filter(col("o_orderkey") % 2 === 1)))
      .groupBy(col("o_orderpriority"), col("yr"))
      .agg(sum(col("n_orders")).as("n_orders"),
        sum(col("partial_total")).cast("double").as("total"))
      .orderBy(col("o_orderpriority"), col("yr"))
  }

  /** Dynamic partition overwrite — the lake-style partial update: a
    * re-delivered batch replaces ONLY the partitions it contains,
    * leaving the rest of the table untouched (vs static overwrite,
    * which would truncate everything). Here: land orders partitioned
    * by year, then re-deliver 1997 with a price adjustment; the final
    * read must show adjusted 1997 next to intact other years. The
    * re-delivery's writer declares the dynamic mode itself, so the
    * session's overwrite mode is neither read nor changed. At 100 TB
    * this is how daily reprocessing replaces one day out of thousands
    * without rewriting history. */
  def q111DynamicOverwrite(spark: SparkSession, dir: String): DataFrame = {
    val zone = graft.Scratch.dir("q111_orders_by_year")
    val orders = Tables.orders(spark, dir)
      .withColumn("o_year", year(col("o_orderdate")))
    orders.write.partitionBy("o_year")
      .mode(SaveMode.Overwrite).parquet(zone)
    val adjusted = orders.filter(col("o_year") === 1997)
      // keep the column double so all partition files share one schema
      .withColumn("o_totalprice", (dec(col("o_totalprice")) * 2).cast("double"))
    adjusted.write.partitionBy("o_year")
      .option("partitionOverwriteMode", "dynamic")
      .mode(SaveMode.Overwrite).parquet(zone)
    spark.read.parquet(zone)
      .groupBy(col("o_year"))
      .agg(count(lit(1)).as("n_orders"),
        dsum(col("o_totalprice")).as("total"))
      .orderBy(col("o_year"))
  }

  /** Session-catalog table (the Glue-catalog role, SURVEY.md §1
    * "Downstream schema"): persist nation via saveAsTable, then query
    * it back through the catalog by name. The managed table lands in
    * the warehouse dir as parquet; on a cluster the same call targets
    * the shared metastore. */
  def q42CatalogTable(spark: SparkSession, dir: String): DataFrame = {
    // the in-memory catalog forgets tables between sessions but the
    // warehouse directory persists — clear both before (re)creating
    Scale.dropManaged(spark, "graft_nation_catalog")
    Tables.nation(spark, dir).write.mode(SaveMode.Overwrite)
      .saveAsTable("graft_nation_catalog")
    spark.table("graft_nation_catalog")
      .groupBy(col("n_regionkey"))
      .agg(count(lit(1)).as("n_nations"),
        min(col("n_name")).as("first_nation"))
      .orderBy(col("n_regionkey"))
  }

  /** Column DEFAULT values (ANSI DDL surface): a catalog table whose
    * columns declare defaults, filled in both by a partial-column-list
    * INSERT ... SELECT and by the DEFAULT keyword in VALUES — the
    * schema-evolution affordance that lets producers add columns
    * without rewriting every writer. The oracle recomputes the
    * defaults explicitly, so the resolution path (analyzer-injected
    * literals, not storage magic) must be value-transparent. */
  def q137DefaultColumns(spark: SparkSession, dir: String): DataFrame = {
    graft.Tables.registerViews(spark, dir)
    Scale.dropManaged(spark, "graft_defaults")
    spark.sql("""CREATE TABLE graft_defaults(
      id BIGINT,
      status STRING DEFAULT 'new',
      score INT DEFAULT 10) USING parquet""")
    spark.sql(
      "INSERT INTO graft_defaults (id) SELECT n_nationkey FROM nation")
    spark.sql("INSERT INTO graft_defaults VALUES (1000, DEFAULT, 5)")
    spark.table("graft_defaults").orderBy(col("id"))
  }

  /** DataFrameWriterV2 (`writeTo`): the modern catalog-first write API
    * — explicit `partitionedBy` on a computed column, no string `mode`
    * flags. (`create()` after an explicit drop: the built-in session
    * catalog has no atomic REPLACE TABLE AS SELECT; a lakehouse
    * catalog would take `createOrReplace()`.) The table lands
    * year-partitioned in the session catalog and the read-back
    * aggregate must match the oracle computed on the source rows, so
    * the write path (partition expression evaluation included) is
    * value-transparent. Same layout lever as q46's partitioned path
    * write, driven through the V2 API a lakehouse catalog expects. */
  def q143WriterV2(spark: SparkSession, dir: String): DataFrame = {
    Scale.dropManaged(spark, "graft_orders_v2")
    Tables.orders(spark, dir)
      .withColumn("yr", year(col("o_orderdate")))
      .select(col("o_orderkey"), col("o_orderpriority"),
        col("o_totalprice"), col("yr"))
      .writeTo("graft_orders_v2")
      .partitionedBy(col("yr"))
      .using("parquet")
      .create()
    spark.table("graft_orders_v2")
      .groupBy(col("yr"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        dsum(col("o_totalprice")).as("total_usd"))
      .orderBy(col("yr"), col("o_orderpriority"))
  }

  /** Corpus-version diff: compare two dataset snapshots by content
    * digest and classify every doc as unchanged / changed / added /
    * removed — the release-note report between corpus versions (q74
    * APPLIES a change feed; this DERIVES one from two snapshots).
    * v2 is simulated deterministically from v1: every 7th doc dropped,
    * every 10th doc's text amended, 100 synthetic docs appended. The
    * full-outer join on doc_id carries only (id, md5) — at 100 TB the
    * diff never moves document bodies, just 16-byte digests. */
  def q164CorpusDiff(spark: SparkSession, dir: String): DataFrame = {
    val v1 = Tables.documents(spark, dir)
      .select(col("doc_id"), md5(col("text")).as("h1"))
    val v2base = Tables.documents(spark, dir)
      .filter(col("doc_id") % 7 =!= 0)
      .select(col("doc_id"),
        when(col("doc_id") % 10 === 0,
          md5(concat(col("text"), lit(" [amended v2]"))))
          .otherwise(md5(col("text"))).as("h2"))
    val v2new = Tables.documents(spark, dir)
      .filter(col("doc_id") < 100) // deterministic subset, never limit()
      .select((col("doc_id") + lit(1000000L)).as("doc_id"),
        md5(concat(lit("new:"), col("text"))).as("h2"))
    val v2 = v2base.unionByName(v2new)
    v1.join(v2, Seq("doc_id"), "full_outer")
      .select(
        when(col("h1").isNull, "added")
          .when(col("h2").isNull, "removed")
          .when(col("h1") === col("h2"), "unchanged")
          .otherwise("changed").as("change"))
      .groupBy(col("change"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("change"))
  }

  /** DataSource V2 custom connector ([[graft.sources.SyntheticSource]])
    * driven end-to-end: sliced parallel read, `id`-range filter pushed
    * into the source (rows outside [1000, 4000) are never generated),
    * then a normal aggregation on top. The oracle recomputes the same
    * deterministic table in SQL, so the connector's split planning,
    * pruning, and pushdown must all be value-transparent. Plan
    * properties (pruned reader schema, narrowed range) are asserted in
    * IngestPipelineSpec. */
  /** Schema-contract validation — the data-contract gate a lake runs
    * before accepting a delivery. A drifted copy of `documents` is
    * written (column renamed, type narrowed, one contract column
    * absent), then its parquet footer schema is diffed field-by-field
    * against the expected contract: `ok`, `type_mismatch`, `missing`,
    * `unexpected`. Pure metadata work — the scan reads the footer,
    * never the data, so the gate costs nothing at any table size. */
  def q186SchemaContract(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val zone = graft.Scratch.dir("q186_contract")
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"), col("lang"),
        col("source").as("src"), col("n_chars").cast("int"))
      .write.mode(SaveMode.Overwrite).parquet(zone)
    val contract = Seq( // the expected (field, type) contract
      "doc_id" -> "bigint", "text" -> "string", "lang" -> "string",
      "source" -> "string", "n_chars" -> "bigint", "quality" -> "double")
    val actual = spark.read.parquet(zone).schema
      .map(f => f.name -> f.dataType.simpleString).toMap
    val expected = contract.toMap
    val rows =
      contract.map { case (name, tpe) =>
        actual.get(name) match {
          case Some(a) if a == tpe => (name, tpe, a, "ok")
          case Some(a) => (name, tpe, a, "type_mismatch")
          case None => (name, tpe, null: String, "missing")
        }
      } ++ actual.keys.filterNot(expected.contains).toSeq.sorted
        .map(n => (n, null: String, actual(n), "unexpected"))
    rows.toDF("field", "expected", "actual", "status")
      .orderBy(col("field"))
  }

  /** Partition-completeness audit — the freshness/completeness check a
    * scheduler runs after a partitioned delivery. Orders are written
    * partitioned by month with one month deliberately dropped (a
    * simulated missed delivery); the audit builds the expected month
    * spine with `sequence` between the source's min/max months and
    * left-joins the actual per-partition counts: every spine month is
    * reported `present` or `missing`. The spine is tiny (one row per
    * partition), and the actual counts are METADATA-ONLY: the
    * read-back goes through the V2 parquet path with aggregate
    * pushdown on, and COUNT(*) grouped by the partition column is
    * answered from file footers (`PushedAggregation: [COUNT(*)]`,
    * asserted in ScaleSpec) — no data page of the fact table is ever
    * decoded. At 100 TB the audit costs one footer read per file,
    * not a table scan. The V1-source exclusion is scoped to this one
    * `read.parquet` call (relation resolution is eager); the
    * aggregatePushdown flag is left on for the session — it only
    * affects V2 reads, and every other parquet read in the catalog
    * stays on the V1 path. */
  def q187PartitionAudit(spark: SparkSession, dir: String): DataFrame = {
    val zone = graft.Scratch.dir("q187_partitions")
    val src = Tables.orders(spark, dir)
      .withColumn("o_month",
        date_format(date_trunc("month", col("o_orderdate")), "yyyy-MM-dd"))
    src.filter(col("o_month") =!= "1995-06-01")
      .write.partitionBy("o_month").mode(SaveMode.Overwrite).parquet(zone)
    val v1Key = "spark.sql.sources.useV1SourceList"
    val prevV1 = spark.conf.get(v1Key)
    spark.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    spark.conf.set(v1Key, prevV1.split(",").filterNot(_.trim == "parquet")
      .mkString(","))
    val readBack = try spark.read.parquet(zone)
      finally spark.conf.set(v1Key, prevV1)
    // group by the RAW partition column — pushdown only matches plain
    // partition-column grouping; the display formatting happens over
    // the 12 aggregated rows
    val actual = readBack
      .groupBy(col("o_month"))
      .agg(count(lit(1)).as("n"))
      .select(date_format(col("o_month"), "yyyy-MM-dd").as("o_month"),
        col("n"))
    val spine = src
      .agg(min(to_date(col("o_month"))).as("lo"),
        max(to_date(col("o_month"))).as("hi"))
      .select(explode(expr("sequence(lo, hi, INTERVAL 1 MONTH)"))
        .as("mo"))
      .select(date_format(col("mo"), "yyyy-MM-dd").as("o_month"))
    spine.join(actual, Seq("o_month"), "left_outer")
      .select(col("o_month"),
        when(col("n").isNull, lit("missing")).otherwise(lit("present"))
          .as("status"),
        coalesce(col("n"), lit(0L)).as("n_rows"))
      .orderBy(col("o_month"))
  }

  /** Aggregate pushdown through the DSv2 connector (q134's scan-side
    * sibling): COUNT/SUM/MIN/MAX grouped by bucket are answered by the
    * source in closed form — the scan emits 16 pre-aggregated rows
    * instead of 900k generated ones, exactly how a warehouse-grade
    * source answers aggregates from zone-map/footer metadata. The
    * pushed id-range filter composes (the pushdown chain is
    * filters → columns → aggregates). IngestPipelineSpec asserts the
    * plan shows PushedAggregates over the narrowed range and that
    * unsupported aggregates fall back to row generation. */
  def q195SourceAggPushdown(spark: SparkSession, dir: String): DataFrame =
    spark.read.format("graft.sources.SyntheticSource")
      .option("rows", 1000000L).option("slices", 8).load()
      .filter(col("id") >= 100000)
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_rows"), sum(col("id")).as("id_sum"),
        min(col("id")).as("id_min"), max(col("id")).as("id_max"))
      .orderBy(col("bucket"))

  def q134CustomSource(spark: SparkSession, dir: String): DataFrame =
    spark.read.format("graft.sources.SyntheticSource")
      .option("rows", 5000L).option("slices", 8).load()
      .filter(col("id") >= 1000 && col("id") < 4000)
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("fp")).as("min_fp"), max(col("fp")).as("max_fp"))
      .orderBy(col("bucket"))
}
