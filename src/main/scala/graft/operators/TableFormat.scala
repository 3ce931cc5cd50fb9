package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Cols._

/** The TABLE-METADATA layer: persisted layout + manifest artifacts
  * that turn "scan 100 TB and filter" into "list a handful of files".
  * The reference stores plain parquet under date-named S3 prefixes
  * (`etl/load.py` writes `s3://…/year=…` style keys) and leans on the
  * Glue catalog for discovery — metadata-driven pruning is exactly
  * the capability that layer grows into at scale, and it is the one
  * every modern table format (Iceberg/Delta/Hudi) exists to provide.
  * These queries build that layer Spark-first, from parts the engine
  * already has: partitioned parquet for the data, tiny managed tables
  * for the metadata, static partition predicates for the pruning
  * guarantee (the same file-listing contract the vector index proved
  * in [[VectorIndex]] — pruning asserted from `partitions-read`, not
  * hoped for from the optimizer).
  *
  *  - q307: ZONE-MAP pruned read. The data table is laid out along a
  *    z-order curve (64-row "files" at test scale; the real analog is
  *    128 MB files) and a manifest table stores per-file min/max of
  *    both filter dimensions. A 2-D box probe consults the MANIFEST
  *    (metadata-sized) to select overlapping files and reads only
  *    those partitions. The result is layout-independent (oracle is
  *    the plain predicate scan); the layout's whole value is the
  *    files-read guarantee, which TableFormatSpec asserts.
  *  - q308: skip-ratio CERTIFICATE. From manifest arithmetic alone —
  *    no data read — compare files-scanned under the z-order layout
  *    vs a single-column linear sort for a grid of probe boxes. This
  *    is the report a layout owner reads before choosing clustering
  *    keys; the oracle re-derives both manifests in SQL (bit
  *    interleave spelled div/mod so both engines compute bit-equal).
  *  - q309: SNAPSHOT/TIME-TRAVEL reads. Commits are immutable
  *    partition directories; a manifest row set (version, commit_id)
  *    defines visibility; per-segment min/max stats locate a
  *    retention deletion WITHOUT scanning data (only stats-overlapping
  *    segments rewrite, copy-on-write); old versions stay readable
  *    because history is never edited in place.
  *  - q310: snapshot EXPIRY + VACUUM — retire old versions, then
  *    reclaim segments no live version references; reachability is
  *    manifest arithmetic, reclaim is a partition drop, and the
  *    report recounts the post-vacuum table so a wrong delete
  *    hash-fails.
  *  - q312: INCREMENTAL changelog between two snapshots from their
  *    manifests: segments shared by both versions are NEVER READ —
  *    only retired/fresh segments diff (keyed full-outer join). At
  *    100 TB this is the difference between a CDC feed that scans two
  *    full snapshots (the q-content-diff operator in [[Egress]]) and
  *    one that reads only the day's churn.
  *  - q313: RE-CLUSTER (OPTIMIZE ZORDER) — rewrite the persisted
  *    linear layout along the z-curve and certify, through both
  *    manifests, that the same probe returns the identical slice
  *    from fewer files.
  *  - q314 (in [[graft.streaming.StreamSnapshotIngest]]): STREAMING
  *    commit ingest — each micro-batch lands as one immutable commit
  *    + one manifest version, the online half of this tier.
  *
  * Fixed-name artifacts follow the repo's SINGLE-WRITER convention
  * (see [[VectorIndex]]): each query owns its table names (`_z` /
  * `_snap` / `_diff` suffixes) so catalog entries never clobber each
  * other mid-sweep. The convention is a fixture simplification, not a
  * design limit — [[q321CommitConflict]] demonstrates the optimistic
  * commit protocol (stage data → CAS the version pointer → rebase or
  * abort on conflict) that lets multiple writers share one table.
  */
object TableFormat {

  // ------------------------------------------------------ z-order

  /** 6-bit × 6-bit Morton interleave written as div/mod arithmetic —
    * identical text is used in the DuckDB oracles, so the curve is
    * engine-portable by construction (q131 uses shift/AND, which
    * Spark codegens the same way; div/mod keeps ONE spelling for
    * both engines here). */
  private def mortonSql(x: String, y: String): String =
    (0 until 6).map { i =>
      val p = 1L << i
      s"(($x div $p) % 2) * ${1L << (2 * i)} + " +
        s"(($y div $p) % 2) * ${1L << (2 * i + 1)}"
    }.mkString(" + ")

  /** The probe dimensions of the layout demo: x = p_size (1..50),
    * y = retail-price bucket (0..49) — [[Scale.layoutDims]], the one
    * shared definition with q131, widened to long for the manifest
    * arithmetic. */
  private def partXY(spark: SparkSession, dir: String): DataFrame =
    Scale.layoutDims(Tables.part(spark, dir))
      .withColumn("x", col("x").cast("long"))
      .withColumn("y", col("y").cast("long"))

  /** Rows per layout file: 64 at gate scale, growing so the FILE
    * COUNT stays ≤ 64 as the fixture scales. A real writer targets a
    * fixed file SIZE (128 MB) and lets the manifest grow linearly —
    * that is the correct 100 TB shape; what this cap models is that
    * test-scale "files" are partition DIRECTORIES on a local FS,
    * whose per-directory cost a real object-store writer amortizes.
    * The gate scales (sf0.001/sf0.01) stay at exactly 64 rows/file,
    * so oracle hashes are unchanged; the DuckDB side computes the
    * same expression (GREATEST(64, ceil(n/64))). */
  private def zRowsPerFile(n: Long): Long = math.max(64L, (n + 63L) / 64L)

  private[graft] val ZData = "graft_zmap_data_z"
  private[graft] val ZManifest = "graft_zmap_manifest_z"

  /** Files whose [min,max] envelope overlaps a probe box — THE
    * pruning-correctness invariant of the zone-map layer, defined
    * once and shared by every pruned read here and by
    * TableFormatSpec's partitions-read assertions (so the spec
    * certifies the same predicate production runs). */
  private[graft] def overlappingFiles(manifest: DataFrame,
      box: (Long, Long, Long, Long)): DataFrame = {
    val (xLo, xHi, yLo, yHi) = box
    manifest.filter(col("max_x") >= xLo && col("min_x") <= xHi &&
      col("max_y") >= yLo && col("min_y") <= yHi)
  }

  /** Lay the frame out along `sortKey` into ZRowsPerFile-row files
    * and persist data (partitioned by file id) + manifest (per-file
    * min/max of both dimensions). File assignment reuses
    * [[Scale.globalIndex]] — range partition + per-partition offsets,
    * no single-partition exchange — which is exactly how a
    * distributed writer assigns file ids at 100 TB. */
  private def writeLayout(spark: SparkSession, base: DataFrame,
      sortKey: Column, dataT: String, manifestT: String,
      rpfOverride: Option[Long] = None): Unit = {
    Scale.dropManaged(spark, dataT)
    Scale.dropManaged(spark, manifestT)
    val rpf = rpfOverride.getOrElse(zRowsPerFile(base.count()))
    val laid = Scale.globalIndex(
      base.withColumn("skey", sortKey),
      col("skey").asc, col("p_partkey").asc)
      .withColumn("zfile", expr(s"CAST((rank - 1) div $rpf AS INT)"))
    laid.select(col("p_partkey"), col("p_retailprice"), col("x"),
        col("y"), col("zfile"))
      .write.partitionBy("zfile")
      .mode(SaveMode.Overwrite).saveAsTable(dataT)
    writeManifest(spark, dataT, manifestT)
  }

  /** Per-file (row count, min/max of both dimensions) manifest of a
    * laid-out data table — ONE definition for every layout writer
    * here (zone-map build, re-cluster, q332's pack compactor), so
    * the stats every pruned read trusts are produced by a single
    * code path. */
  private def writeManifest(spark: SparkSession, dataT: String,
      manifestT: String): Unit =
    spark.table(dataT)
      .groupBy(col("zfile"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("x")).as("min_x"), max(col("x")).as("max_x"),
        min(col("y")).as("min_y"), max(col("y")).as("max_y"))
      .write.mode(SaveMode.Overwrite).saveAsTable(manifestT)

  private def buildZonemap(spark: SparkSession, dir: String): Unit =
    writeLayout(spark, partXY(spark, dir), expr(mortonSql("x", "y")),
      ZData, ZManifest)

  /** The q307 probe box, shared with TableFormatSpec's files-read
    * assertion and q308's box_2d row. The y range sits inside [0, 9]
    * because the sf0.001 fixture's price span only populates those
    * buckets — the box must be non-empty at every test scale. */
  private[graft] val ZBox = (15L, 25L, 3L, 8L)

  /** Zone-map pruned read: consult the manifest for files whose
    * [min,max] envelope overlaps the probe box, then read ONLY those
    * partitions of the data table — the file set is collected and
    * inlined as a static partition predicate, so pruning is a
    * file-listing guarantee exactly like the IVF probe's (q294). The
    * residual in-file filter still applies (envelopes overshoot);
    * the RESULT is layout-independent, which is what makes the plain
    * predicate scan a valid oracle. At 100 TB the manifest is a few
    * MB for a million files — the metadata:data ratio that makes
    * zone maps the first thing every table format ships. */
  def q307ZonemapPrune(spark: SparkSession, dir: String): DataFrame = {
    buildZonemap(spark, dir)
    val (xLo, xHi, yLo, yHi) = ZBox
    val files = overlappingFiles(spark.table(ZManifest), ZBox)
      .select(col("zfile")).collect().map(_.getInt(0)).toSeq
    spark.table(ZData)
      .filter(col("zfile").isin(files: _*))
      .filter(col("x").between(xLo, xHi) && col("y").between(yLo, yHi))
      .groupBy(col("x"))
      .agg(count(lit(1)).as("n_parts"),
        dsum(col("p_retailprice")).as("sum_retail"))
      .orderBy(col("x"))
  }

  /** The q308 probe-box grid: narrow slices in each single dimension,
    * the 2-D box both layouts must serve, quadrant boxes, and a point
    * lookup — the mix a layout owner actually prices. */
  private[graft] val SkipBoxes: Seq[(Int, String, Long, Long, Long, Long)] =
    Seq(
      (1, "slice_x", 15L, 25L, 0L, 63L),
      (2, "slice_y", 0L, 63L, 3L, 8L),
      (3, "box_2d", 15L, 25L, 3L, 8L),
      (4, "quadrant_lo", 0L, 24L, 0L, 24L),
      (5, "quadrant_hi", 25L, 63L, 25L, 63L),
      (6, "point", 20L, 20L, 5L, 5L))

  /** Per-layout manifest (file, min/max x, min/max y) derived
    * in-query for an arbitrary sort key — the z-order manifest
    * matches what [[buildZonemap]] persists; the linear one is the
    * single-column-sort strawman. */
  private def manifestFor(base: DataFrame, sortKey: Column,
      rpf: Long): DataFrame =
    Scale.globalIndex(base, sortKey.asc, col("p_partkey").asc)
      .withColumn("f", expr(s"(rank - 1) div $rpf"))
      .groupBy(col("f"))
      .agg(min(col("x")).as("min_x"), max(col("x")).as("max_x"),
        min(col("y")).as("min_y"), max(col("y")).as("max_y"))

  /** Skip-ratio certificate: for each probe box, how many files would
    * each layout scan? Pure manifest arithmetic — zero data rows are
    * read once the manifests exist, which is why this report is
    * effectively free to publish nightly next to the layout job. The
    * z-order layout bounds BOTH dimensions per file, so it wins every
    * mixed/secondary-dimension probe; the linear layout wins only its
    * own leading column — the exact trade this certificate quantifies
    * (TableFormatSpec pins the direction, and pins the z-layout's
    * box_2d file count to q307's ACTUAL partitions-read, tying the
    * paper number to the physical scan). */
  def q308ZonemapSkipRatio(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = partXY(spark, dir)
    val rpf = zRowsPerFile(base.count())
    val manifests =
      manifestFor(base.withColumn("zm", expr(mortonSql("x", "y"))),
        col("zm"), rpf).withColumn("layout", lit("zorder"))
        .unionByName(
          manifestFor(base, col("x"), rpf).withColumn("layout", lit("linear")))
    val boxes = SkipBoxes
      .toDF("box_id", "box_name", "x_lo", "x_hi", "y_lo", "y_hi")
    manifests.crossJoin(broadcast(boxes))
      .groupBy(col("box_id"), col("box_name"), col("layout"))
      .agg(count(lit(1)).as("files_total"),
        sum(when(col("max_x") >= col("x_lo") &&
          col("min_x") <= col("x_hi") &&
          col("max_y") >= col("y_lo") &&
          col("min_y") <= col("y_hi"), 1L).otherwise(0L))
          .as("files_scanned"))
      // one IEEE division of small exact integers — bitwise
      // deterministic across engines, no rounding needed
      .withColumn("skip_pct",
        lit(100.0) * (col("files_total") - col("files_scanned")) /
          col("files_total"))
      .orderBy(col("box_id"), col("layout"))
  }

  private[graft] val LinData = "graft_zmap_data_lin"
  private[graft] val LinManifest = "graft_zmap_manifest_lin"
  private[graft] val OptData = "graft_zmap_data_opt"
  private[graft] val OptManifest = "graft_zmap_manifest_opt"

  /** Probe one persisted layout with the standard box: manifest
    * overlap decides the file set, the pruned read aggregates the
    * slice — so `n_parts`/`sum_retail` are falsifiable physics (a
    * rewrite that dropped rows would change them), not metadata. */
  private def probeStats(spark: SparkSession, dataT: String,
      manifestT: String, phase: String): DataFrame = {
    val (xLo, xHi, yLo, yHi) = ZBox
    val mf = spark.table(manifestT)
    val total = mf.count()
    val files = overlappingFiles(mf, ZBox)
      .select(col("zfile")).collect().map(_.getInt(0)).toSeq
    spark.table(dataT)
      .filter(col("zfile").isin(files: _*))
      .filter(col("x").between(xLo, xHi) && col("y").between(yLo, yHi))
      .agg(count(lit(1)).as("n_parts"),
        dsum(col("p_retailprice")).as("sum_retail"))
      .select(lit(phase).as("phase"), lit(total).as("files_total"),
        lit(files.size.toLong).as("files_scanned"),
        col("n_parts"), col("sum_retail"))
  }

  /** RE-CLUSTER (the `OPTIMIZE ZORDER` maintenance move): the table
    * starts in the layout ingestion naturally produces — sorted by
    * its leading column — and is rewritten along the z-curve; the
    * SAME box probe runs against both layouts through their
    * manifests, and both pruned reads must return the identical
    * slice (`n_parts`/`sum_retail` equal across phases — content
    * preservation is part of the hash), while `files_scanned` drops.
    * The rewrite reads the PERSISTED linear table, not the source —
    * re-clustering is maintenance on the artifact, with no upstream
    * dependency. At 100 TB this runs partition-by-partition (each
    * date partition re-sorts independently — the same incremental
    * shape as q301's cell compaction); the single-pass rewrite here
    * is the per-partition unit of that job. TableFormatSpec asserts
    * the after-probe's partitions-read equals the optimized
    * manifest's overlap count. */
  def q313Recluster(spark: SparkSession, dir: String): DataFrame = {
    writeLayout(spark, partXY(spark, dir), col("x"), LinData,
      LinManifest)
    val before = probeStats(spark, LinData, LinManifest, "before")
    writeLayout(spark,
      spark.table(LinData).select(col("p_partkey"),
        col("p_retailprice"), col("x"), col("y")),
      expr(mortonSql("x", "y")), OptData, OptManifest)
    val after = probeStats(spark, OptData, OptManifest, "after")
    before.unionByName(after).orderBy(col("phase"))
  }

  // ------------------------------------------- bloom point lookup

  private[graft] val BfManifest = "graft_zmap_bloom_z"

  /** k=3 bloom hash multipliers (the 32-bit xxhash/Knuth primes) —
    * bit position i of key K is (K * A_i) mod m, pure integer
    * arithmetic both engines compute bit-identically (no engine hash
    * functions, the q131/q308 portability rule; products stay far
    * below 2^63 for any realistic key space). */
  private[graft] val BloomHashA = Seq(2654435761L, 2246822519L, 3266489917L)

  /** Bloom width: ~10 bits per key at the layout's rows-per-file,
    * stored as 32-bit words in BIGINT columns — shift amounts stay in
    * 0..31, where `<<` is portable (DuckDB errors past bit 62, and
    * the sign bit would differ anyway). With k=3 hashes this prices
    * the false-positive rate at (1−e^(−3/10))³ ≈ 1.7% per file. */
  private[graft] def bloomWords(rpf: Long): Long =
    math.max(1L, (rpf * 10 + 31) / 32)

  /** The q331 probe key — present at every fixture scale (part keys
    * start at 0; the smallest fixture has 200). */
  private[graft] val BloomProbeKey = 97L

  private[graft] def bloomBitPositions(key: Long, m: Long): Seq[Long] =
    BloomHashA.map(a => (key * a) % m)

  /** Per-(file, word) bloom rows of a laid-out frame: OR every key's
    * three hash bits — one narrow pass, PER-FILE by construction, so
    * the same definition builds the full table (q331) and the
    * fresh-files-only increment (q336). */
  private def bloomRowsOf(df: DataFrame, m: Long): DataFrame =
    df.select(col("zfile"),
        explode(array(BloomHashA.map(a =>
          (col("p_partkey").cast("long") * a) % m): _*)).as("p"))
      .select(col("zfile"), expr("p div 32").as("word"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(p % 32 AS INT))").as("bit"))
      .groupBy(col("zfile"), col("word"))
      .agg(expr("bit_or(bit)").as("bits"))

  /** Candidate files for a point key: driver-side bit arithmetic →
    * files whose bloom has EVERY distinct (word, mask) pair set — a
    * metadata join, no data read. Shared by q331 and q336. */
  private def bloomCandidates(spark: SparkSession, bloomT: String,
      key: Long, m: Long): Seq[Int] = {
    import spark.implicits._
    val probeBits = bloomBitPositions(key, m)
      .map(p => (p / 32, 1L << (p % 32).toInt)).distinct
    spark.table(bloomT)
      .join(broadcast(probeBits.toDF("word", "mask")), Seq("word"))
      .filter((col("bits").bitwiseAND(col("mask"))) =!= lit(0L))
      .groupBy(col("zfile")).agg(count(lit(1)).as("nb"))
      .filter(col("nb") === probeBits.size)
      .select(col("zfile")).collect().map(_.getInt(0)).toSeq.sorted
  }

  /** NON-SORT-KEY POINT LOOKUP through a per-file key bloom — the one
    * common read the zone-map manifest cannot prune: `p_partkey = K`
    * is uncorrelated with the z-curve's (x, y), so every file's
    * envelope admits it and q307's pruning degenerates to a full
    * scan. The fix every real format ships is a per-file key
    * fingerprint IN the manifest: here a bloom filter of ~10
    * bits/key (k=3 integer-arithmetic hashes), persisted as
    * (file, word, bits) rows next to the min/max manifest.
    *
    * The probe is metadata arithmetic end to end: the key's 3 bit
    * positions are computed driver-side (no data read), the
    * candidate set is `files whose bloom has ALL 3 bits set` — a
    * broadcast join against the metadata-sized bloom table — and
    * only those files' partitions are read (the q307 static-
    * predicate file-listing guarantee, spec-asserted). The residual
    * key filter still applies, so the ANSWER is bloom-independent —
    * what the bloom buys is `files_selected ≪ files_total`, and the
    * report prices its honesty: `files_with_key` is counted from the
    * real pruned read, `fp_files` is the bloom's overshoot, and the
    * oracle re-derives the whole filter — a wrong bit position, a
    * saturated width, or a missed file moves `files_selected` or
    * zeroes `n_rows` and hash-fails. At 100 TB the bloom column is
    * the difference between a key lookup that opens ~2% of a
    * million files and one that opens all of them; the bloom table
    * itself is metadata (files × words rows), maintained per new
    * file exactly like the min/max rows. */
  def q331BloomPointLookup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    buildZonemap(spark, dir)
    Scale.dropManaged(spark, BfManifest)
    // rows-per-file re-derived from the just-written manifest
    // (metadata-sized: sum of per-file counts = the layout's input
    // count), not a second full scan of the source
    val rpf = zRowsPerFile(spark.table(ZManifest)
      .agg(sum(col("n_rows"))).collect().head.getLong(0))
    val m = bloomWords(rpf) * 32
    bloomRowsOf(spark.table(ZData), m)
      .write.mode(SaveMode.Overwrite).saveAsTable(BfManifest)
    val files = bloomCandidates(spark, BfManifest, BloomProbeKey, m)
    val filesTotal = spark.table(ZManifest).count()
    spark.table(ZData)
      .filter(col("zfile").isin(files: _*))
      .filter(col("p_partkey") === BloomProbeKey)
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("zfile")).as("files_with_key"),
        dsum(col("p_retailprice")).as("sum_retail"))
      .select(lit(filesTotal).as("files_total"),
        lit(files.size.toLong).as("files_selected"),
        col("files_with_key"),
        (lit(files.size.toLong) - col("files_with_key")).as("fp_files"),
        ((lit(files.size.toLong) - col("files_with_key"))
          .cast("double") / lit(filesTotal).cast("double")).as("fp_rate"),
        col("n_rows"), col("sum_retail"))
  }

  // ---------------------- incremental layout maintenance (q336)

  private[graft] val ImData = "graft_zmap_data_im"
  private[graft] val ImManifest = "graft_zmap_manifest_im"
  private[graft] val ImBloom = "graft_zmap_bloom_im"

  /** Fresh-files-only read of the incrementally-maintained layout —
    * ONE definition shared by the maintenance job and by
    * TableFormatSpec's partitions-read assertion (the vdChurn /
    * cdChurn discipline for the layout-metadata tier). */
  private[graft] def imFreshFiles(spark: SparkSession,
      firstFresh: Long): DataFrame =
    spark.table(ImData).filter(col("zfile") >= firstFresh)

  /** INCREMENTAL LAYOUT-METADATA MAINTENANCE — makes q331's claim
    * ("the bloom table is maintained per new file exactly like the
    * min/max rows") real and oracled. The standing table is a
    * z-ordered layout with per-file stats + bloom manifests; an
    * ingest batch arrives as NEW FILES (z-ordered within itself,
    * ids past the standing layout — the standing files never
    * rewrite, which is how a distributed writer lands a batch), and
    * maintenance derives the new files' stats and bloom rows from
    * ONLY the fresh partitions (spec-asserted through the shared
    * [[imFreshFiles]] definition) and APPENDS them:
    *
    *  - both manifests are per-file by construction, so incremental
    *    rows are definitionally independent of the standing ones —
    *    the in-query certificates assert the maintained manifests
    *    equal a from-scratch rebuild over the current table,
    *    row-for-row (a drift here is silent wrong pruning later,
    *    the failure class the certificate exists to catch).
    *  - both probe paths then run over the MERGED metadata: the
    *    q307 box probe prunes by envelope across standing + fresh
    *    files, and the q331 point lookup finds key 97 — which lives
    *    in the BATCH — through the incrementally-appended bloom
    *    rows.
    *
    * At 100 TB this is the nightly reality of layout metadata: the
    * maintenance cost follows the day's ingest (fresh-partition
    * reads + metadata appends), never the table, and rebuild-equality
    * is the invariant that makes the cheap path trustworthy. */
  def q336IncrementalLayoutMaintenance(spark: SparkSession,
      dir: String): DataFrame = {
    import spark.implicits._
    Seq(ImData, ImManifest, ImBloom)
      .foreach(Scale.dropManaged(spark, _))
    val all = partXY(spark, dir)
    val standing = all.filter(col("p_partkey") % 10 =!= 7)
    val batch = all.filter(col("p_partkey") % 10 === 7)
    // rows-per-file is a TABLE property: fixed at creation, reused
    // by every later batch (re-deriving it from a grown table would
    // silently re-cut history)
    val rpf = zRowsPerFile(standing.count())
    writeLayout(spark, standing, expr(mortonSql("x", "y")), ImData,
      ImManifest, Some(rpf))
    val m = bloomWords(rpf) * 32
    bloomRowsOf(spark.table(ImData), m)
      .write.mode(SaveMode.Overwrite).saveAsTable(ImBloom)
    val filesStanding = spark.table(ImManifest).count()

    // the batch lands as new files: z-ordered within itself, ids
    // offset past the standing layout
    Scale.globalIndex(batch.withColumn("skey", expr(mortonSql("x", "y"))),
        col("skey").asc, col("p_partkey").asc)
      .withColumn("zfile",
        expr(s"CAST((rank - 1) div $rpf + $filesStanding AS INT)"))
      .select(col("p_partkey"), col("p_retailprice"), col("x"),
        col("y"), col("zfile"))
      .write.insertInto(ImData)

    // incremental maintenance: stats + bloom rows from ONLY the
    // fresh partitions, appended
    val fresh = imFreshFiles(spark, filesStanding).localCheckpoint()
    fresh.groupBy(col("zfile"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("x")).as("min_x"), max(col("x")).as("max_x"),
        min(col("y")).as("min_y"), max(col("y")).as("max_y"))
      .write.insertInto(ImManifest)
    bloomRowsOf(fresh, m).write.insertInto(ImBloom)
    val filesBatch = spark.table(ImManifest).count() - filesStanding

    // certificates: the maintained manifests equal a from-scratch
    // rebuild over the current table, row-for-row — one-pass multiset
    // equality (r15 opt), each side scanned once in a single action
    val rebuiltM = spark.table(ImData).groupBy(col("zfile"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("x")).as("min_x"), max(col("x")).as("max_x"),
        min(col("y")).as("min_y"), max(col("y")).as("max_y"))
    val mMatch = graft.Certs.sameMultiset(spark.table(ImManifest), rebuiltM)
    val bMatch = graft.Certs.sameMultiset(spark.table(ImBloom),
      bloomRowsOf(spark.table(ImData), m))

    // probes over the MERGED metadata
    val boxFiles = overlappingFiles(spark.table(ImManifest), ZBox)
      .select(col("zfile")).collect().map(_.getInt(0)).toSeq.sorted
    val (xLo, xHi, yLo, yHi) = ZBox
    val box = spark.table(ImData).filter(col("zfile").isin(boxFiles: _*))
      .filter(col("x") >= xLo && col("x") <= xHi &&
        col("y") >= yLo && col("y") <= yHi)
      .agg(count(lit(1)).as("n"), dsum(col("p_retailprice")).as("s"))
      .collect().head
    val cands = bloomCandidates(spark, ImBloom, BloomProbeKey, m)
    val key = spark.table(ImData).filter(col("zfile").isin(cands: _*))
      .filter(col("p_partkey") === BloomProbeKey)
      .agg(count(lit(1)).as("n"), dsum(col("p_retailprice")).as("s"))
      .collect().head

    Seq((filesStanding, filesBatch, mMatch, bMatch,
        boxFiles.size.toLong, box.getLong(0), box.getDouble(1),
        cands.size.toLong, key.getLong(0), key.getDouble(1)))
      .toDF("files_standing", "files_batch", "manifest_matches_rebuild",
        "bloom_matches_rebuild", "box_files_scanned", "box_n_rows",
        "box_sum_retail", "key_files_selected", "key_n_rows",
        "key_sum_retail")
  }

  // --------------------------------------- compaction × clustering

  private[graft] val OcData = "graft_zmap_data_oc"
  private[graft] val OcManifest = "graft_zmap_manifest_oc"
  private[graft] val OcOptData = "graft_zmap_data_oc2"
  private[graft] val OcOptManifest = "graft_zmap_manifest_oc2"

  /** Small ingest files consolidated per pack — by FILE-ID VALUE
    * (`zfile div 32`), the same value-based membership rule as
    * q318's (the r9 layoutDims lesson: the invariant lives in the
    * arithmetic, not in the data being dense). */
  private[graft] val OcPackFiles = 32

  /** COMPACTION × CLUSTERING — the two maintenance moves in ONE
    * rewrite, which is what a real `OPTIMIZE ... ZORDER BY` does:
    * q318 bin-packs small commits but keeps arrival order (envelopes
    * stay wide), q313 restores the z-curve but as a whole-table
    * rewrite. The realistic unit is this one: the table arrives as
    * arrival-ordered small files (half the target size, the arrival
    * sequence a key-hash scramble — the fixture's stand-in for
    * "ingest lands in no dimension-correlated order", so the
    * before-layout's envelopes admit every 2-D probe; p_partkey
    * itself would not do: the synthetic price column tracks it
    * linearly, which would smuggle a y-sort into the strawman), and
    * the
    * optimizer packs [[OcPackFiles]] adjacent files per pack, sorts
    * each pack along the z-curve, and recuts at the full target file
    * size. Each pack is an independent rewrite unit (the window is
    * partitioned by pack — a production compactor schedules packs
    * separately, the q301/q313 incremental shape); one linear pass
    * total, no global sort.
    *
    * The certificate is the q313 probe through both manifests: the
    * slice (`n_parts`/`sum_retail`) is layout-independent and in the
    * hash, `files_total` halves (packing), and `files_scanned`
    * collapses (clustering) — the before-layout can prune (almost)
    * nothing on the box because arrival order bounds neither
    * dimension. TableFormatSpec asserts the physical half: the
    * after-probe's partitions-read equals the optimized manifest's
    * overlap count, and both gains actually happened. */
  def q332CompactCluster(spark: SparkSession, dir: String): DataFrame = {
    val base = partXY(spark, dir)
    val rpf = zRowsPerFile(base.count())
    val rpfS = math.max(1L, rpf / 2)
    // BEFORE: arrival-ordered ingest files at half the target size
    // — what a streaming writer leaves behind
    writeLayout(spark, base,
      (col("p_partkey").cast("long") * 2654435761L) % 1000003L, OcData,
      OcManifest, Some(rpfS))
    val before = probeStats(spark, OcData, OcManifest, "before")

    // OPTIMIZE: pack, z-sort within pack, recut at full size
    Scale.dropManaged(spark, OcOptData)
    Scale.dropManaged(spark, OcOptManifest)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("pack")).orderBy(col("zm"), col("p_partkey"))
    spark.table(OcData)
      .withColumn("pack", expr(s"zfile div $OcPackFiles"))
      .withColumn("zm", expr(mortonSql("x", "y")))
      .withColumn("rk", row_number().over(w))
      .select(col("p_partkey"), col("p_retailprice"), col("x"), col("y"),
        expr(s"CAST(pack * 100000 + (rk - 1) div $rpf AS INT)")
          .as("zfile"))
      .write.partitionBy("zfile")
      .mode(SaveMode.Overwrite).saveAsTable(OcOptData)
    writeManifest(spark, OcOptData, OcOptManifest)
    val after = probeStats(spark, OcOptData, OcOptManifest, "after")
    before.unionByName(after).orderBy(col("phase"))
  }

  // -------------------- layout maintenance under rewrite (q341)

  private[graft] val RmData = "graft_zmap_data_rm"
  private[graft] val RmManifest = "graft_zmap_manifest_rm"
  private[graft] val RmBloom = "graft_zmap_bloom_rm"

  /** Rewritten files land past this id — new files are NEW names,
    * never reused ids (the immutability rule that lets the retire
    * step be an exact id filter). */
  private[graft] val RmNewFileBase = 100000

  /** Fresh-files-only read of the post-rewrite layout — the q336
    * `imFreshFiles` discipline applied to the REWRITE path; one
    * definition shared by the maintenance job and the spec's
    * partitions-read assertion. */
  private[graft] def rmFreshFiles(spark: SparkSession): DataFrame =
    spark.table(RmData).filter(col("zfile") >= RmNewFileBase)

  /** LAYOUT-METADATA MAINTENANCE UNDER REWRITE — q336 keeps the
    * stats + bloom manifests incremental under APPEND; this closes
    * the other half (the r11 verdict's #5): when OPTIMIZE (q332's
    * pack compactor) rewrites files, the maintained metadata must
    * retire EXACTLY the rewritten files' rows and derive the new
    * files' rows from ONLY the rewrite output — never a full-table
    * re-scan. Lifecycle:
    *
    *  - the table starts as q332's strawman: arrival-ordered files at
    *    half the target size, with per-file stats AND bloom rows
    *    (bloom width is a TABLE property from the full-target
    *    rows-per-file, fixed at creation — the q336 rule).
    *  - OPTIMIZE rewrites ONE pack (files 0..31): reads only those
    *    partitions (they must be read to rewrite anyway), z-sorts,
    *    recuts at the full target size, lands the output as NEW file
    *    ids past [[RmNewFileBase]], then drops the old partitions —
    *    immutable files make the retire a directory delete. WHICH
    *    pack to rewrite is the planner's job (q342); the maintenance
    *    discipline is the subject here.
    *  - metadata maintenance: both manifests drop exactly the
    *    rewritten ids and gain rows derived from the fresh partitions
    *    only ([[rmFreshFiles]], spec-asserted). The manifests
    *    themselves are metadata-sized, so their rewrite is the cheap
    *    side; the discipline protects the DATA side.
    *  - certificates: the maintained stats and bloom manifests equal
    *    a from-scratch rebuild over the current table, row-for-row —
    *    pinned in the hash, because a drifted manifest is silent
    *    wrong pruning later.
    *  - both probe paths then run over the maintained metadata: the
    *    q307 box probe (whose file count DROPS — the rewritten pack
    *    now prunes) and the q331 bloom point lookup.
    *
    * At 100 TB this is why OPTIMIZE doesn't cost a metadata rebuild:
    * the job's metadata bill is (retired ids + stats of what it just
    * wrote), both already in hand when the rewrite commits. */
  def q341RewriteLayoutMaintenance(spark: SparkSession,
      dir: String): DataFrame = {
    import spark.implicits._
    Scale.dropManaged(spark, RmBloom)
    val base = partXY(spark, dir)
    val rpf = zRowsPerFile(base.count())
    val rpfS = math.max(1L, rpf / 2)
    writeLayout(spark, base,
      (col("p_partkey").cast("long") * 2654435761L) % 1000003L,
      RmData, RmManifest, Some(rpfS))
    val m = bloomWords(rpf) * 32
    bloomRowsOf(spark.table(RmData), m)
      .write.mode(SaveMode.Overwrite).saveAsTable(RmBloom)
    val filesBefore = spark.table(RmManifest).count()

    // OPTIMIZE pack 0: pruned read of exactly its partitions, z-sort,
    // recut at full size, land as new ids
    val rewritten = spark.table(RmManifest)
      .filter(col("zfile") < OcPackFiles)
      .select(col("zfile")).collect().map(_.getInt(0)).toSeq.sorted
    val packRows = spark.table(RmData)
      .filter(col("zfile").isin(rewritten: _*))
    Scale.globalIndex(
        packRows.withColumn("skey", expr(mortonSql("x", "y"))),
        col("skey").asc, col("p_partkey").asc)
      .withColumn("zfile",
        expr(s"CAST((rank - 1) div $rpf + $RmNewFileBase AS INT)"))
      .select(col("p_partkey"), col("p_retailprice"), col("x"),
        col("y"), col("zfile"))
      .write.insertInto(RmData)
    Scale.dropPartitions(spark, RmData,
      rewritten.map(f => s"zfile=$f"))

    // incremental metadata maintenance: retire exactly the rewritten
    // ids, derive new rows from the fresh partitions ONLY.
    // r16 (guide §2.6): the serial action train below is restructured
    // into independent waves — [fresh, keptM, keptB] pins (three
    // disjoint pruned reads; kept* must pin eagerly because each
    // feeds an overwrite of ITS OWN table), then the two metadata
    // writes (different tables), then [file count, manifest cert,
    // bloom cert], then the two probes' file selections, then the two
    // pruned data probes.
    val fresh = rmFreshFiles(spark)
    val keptM = spark.table(RmManifest)
      .filter(!col("zfile").isin(rewritten: _*))
    val keptB = spark.table(RmBloom)
      .filter(!col("zfile").isin(rewritten: _*))
    val Seq(freshP, keptMP, keptBP) = Scale.inParallel(
      () => fresh.localCheckpoint(),
      () => keptM.localCheckpoint(),
      () => keptB.localCheckpoint())
    Scale.inParallel(
      () => keptMP.unionByName(freshP.groupBy(col("zfile"))
          .agg(count(lit(1)).as("n_rows"),
            min(col("x")).as("min_x"), max(col("x")).as("max_x"),
            min(col("y")).as("min_y"), max(col("y")).as("max_y")))
        .write.mode(SaveMode.Overwrite).saveAsTable(RmManifest),
      () => keptBP.unionByName(bloomRowsOf(freshP, m))
        .write.mode(SaveMode.Overwrite).saveAsTable(RmBloom))

    // certificates: maintained metadata ≡ from-scratch rebuild —
    // one-pass multiset equality (r15 opt), each side scanned once;
    // the count and both certs read only the landed tables → one wave
    val rebuiltM = spark.table(RmData).groupBy(col("zfile"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("x")).as("min_x"), max(col("x")).as("max_x"),
        min(col("y")).as("min_y"), max(col("y")).as("max_y"))
    val Seq(filesNew: Long, mMatch: Boolean, bMatch: Boolean) =
      Scale.inParallel[Any](
        () => spark.table(RmManifest).count() -
          (filesBefore - rewritten.size),
        () => graft.Certs.sameMultiset(spark.table(RmManifest), rebuiltM),
        () => graft.Certs.sameMultiset(spark.table(RmBloom),
          bloomRowsOf(spark.table(RmData), m)))

    // probes over the MAINTAINED metadata
    val Seq(boxFiles, cands) = Scale.inParallel(
      () => overlappingFiles(spark.table(RmManifest), ZBox)
        .select(col("zfile")).collect().map(_.getInt(0)).toSeq.sorted,
      () => bloomCandidates(spark, RmBloom, BloomProbeKey, m))
    val (xLo, xHi, yLo, yHi) = ZBox
    val Seq(box, key) = Scale.inParallel(
      () => spark.table(RmData)
        .filter(col("zfile").isin(boxFiles: _*))
        .filter(col("x") >= xLo && col("x") <= xHi &&
          col("y") >= yLo && col("y") <= yHi)
        .agg(count(lit(1)).as("n"), dsum(col("p_retailprice")).as("s"))
        .collect().head,
      () => spark.table(RmData).filter(col("zfile").isin(cands: _*))
        .filter(col("p_partkey") === BloomProbeKey)
        .agg(count(lit(1)).as("n"), dsum(col("p_retailprice")).as("s"))
        .collect().head)

    Seq((filesBefore, rewritten.size.toLong, filesNew, mMatch, bMatch,
        boxFiles.size.toLong, box.getLong(0), box.getDouble(1),
        cands.size.toLong, key.getLong(0), key.getDouble(1)))
      .toDF("files_before", "files_rewritten", "files_new",
        "manifest_matches_rebuild", "bloom_matches_rebuild",
        "box_files_scanned", "box_n_rows", "box_sum_retail",
        "key_files_selected", "key_n_rows", "key_sum_retail")
  }

  // ---------------------------------------------------- snapshots

  /** Segment cut points: commits are ingest batches by order date
    * (time-partitioned arrival, the layout ANY event table has), and
    * the v3 deletion is a RETENTION expiry — a cutoff predicate whose
    * victims are located from per-segment min/max stats alone, no
    * data scan. */
  private val C0End = "1997-01-01"
  private val C1End = "1999-01-01"
  private val RetentionCutoff = "1996-01-01"

  /** Build the versioned table under the given name suffix (q309 and
    * q312 own separate artifact sets — the round-8 lesson: lifecycle
    * queries must not share mutable table names).
    *
    * Physical layout: one partition directory per commit; commits are
    * IMMUTABLE — the v3 retention delete rewrites the one
    * stats-overlapping segment into a NEW commit (`c0_rw`) and only
    * the manifest changes meaning. Three metadata artifacts:
    * data (partitioned by commit_id), manifest (version → commit set),
    * segstats (per-commit min/max order date + row count — the
    * file-stats half of an Iceberg manifest). */
  private[graft] def buildSnapshots(spark: SparkSession, dir: String,
      suffix: String): (String, String, String) = {
    import spark.implicits._
    val data = s"graft_snap_data$suffix"
    val manifest = s"graft_snap_manifest$suffix"
    val segstats = s"graft_snap_segstats$suffix"
    Seq(data, manifest, segstats).foreach(Scale.dropManaged(spark, _))

    val orders = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        col("o_orderdate"))
    val seg = when(col("o_orderdate") < lit(C0End).cast("timestamp"), "c0")
      .when(col("o_orderdate") < lit(C1End).cast("timestamp"), "c1")
      .otherwise("c2")
    // commits c0/c1 arrive first (v1), c2 is the v2 append; physical
    // placement is commit-keyed, so writing them together is
    // equivalent — VISIBILITY is the manifest's job, not the file
    // system's.
    orders.withColumn("commit_id", seg)
      .write.partitionBy("commit_id")
      .mode(SaveMode.Overwrite).saveAsTable(data)
    spark.table(data)
      .groupBy(col("commit_id"))
      .agg(min(col("o_orderdate")).as("min_ts"),
        max(col("o_orderdate")).as("max_ts"),
        count(lit(1)).as("n_rows"))
      .write.mode(SaveMode.Overwrite).saveAsTable(segstats)

    // v3 retention delete: victims live in segments whose min_ts is
    // below the cutoff — located from SEGSTATS (metadata-sized), the
    // stats-based planning a real table format does before touching
    // data. Only those segments rewrite (pruned read, copy-on-write).
    val touched = spark.table(segstats)
      .filter(col("min_ts") < lit(RetentionCutoff).cast("timestamp"))
      .filter(col("commit_id").isin("c0", "c1", "c2"))
      .select(col("commit_id")).collect().map(_.getString(0)).toSeq
    // ONE insert covers every rewritten commit (r16: the per-commit
    // loop paid one full write job per touched segment into the same
    // table; the union lands the same rows in the same partitions)
    if (touched.nonEmpty)
      touched.map { c =>
        spark.table(data)
          .filter(col("commit_id") === c)
          .filter(col("o_orderdate") >=
            lit(RetentionCutoff).cast("timestamp"))
          .select(col("o_orderkey"), col("o_custkey"),
            col("o_totalprice"), col("o_orderdate"),
            lit(s"${c}_rw").as("commit_id"))
      }.reduce(_ unionByName _).write.insertInto(data)

    val v1 = Seq("c0", "c1")
    val v2 = Seq("c0", "c1", "c2")
    val v3 = v2.filterNot(touched.contains) ++ touched.map(_ + "_rw")
    // the segstats refresh (reads the rewritten data partitions) and
    // the manifest write (a pure literal) touch different tables —
    // overlap them (guide §2.6, r16)
    Scale.inParallel(
      () => if (touched.nonEmpty) {
        spark.table(data)
          .filter(col("commit_id").isin(touched.map(_ + "_rw"): _*))
          .groupBy(col("commit_id"))
          .agg(min(col("o_orderdate")).as("min_ts"),
            max(col("o_orderdate")).as("max_ts"),
            count(lit(1)).as("n_rows"))
          .select(col("commit_id"), col("min_ts"), col("max_ts"),
            col("n_rows"))
          .write.insertInto(segstats)
      },
      () => (v1.map((1, _)) ++ v2.map((2, _)) ++ v3.map((3, _)))
        .toDF("version", "commit_id")
        .write.mode(SaveMode.Overwrite).saveAsTable(manifest))
    (data, manifest, segstats)
  }

  /** Stage a synthetic append commit — the fixture's stand-in for an
    * arriving ingest batch: keys from one mod class, shifted out of
    * the base keyspace, a fixed arrival date, an optional price
    * transform (q323's corruption hook; evaluated against the
    * PRE-shift key, like any upstream defect would be). One
    * definition for q321, q323, and q326's staged writers. */
  private def stageCommit(spark: SparkSession, dir: String,
      data: String, mod: Int, shift: Long, date: String, commit: String,
      price: Column => Column = identity): Unit = {
    Tables.requireKeyHeadroom(spark, dir, shift)
    Tables.orders(spark, dir)
      .filter(col("o_orderkey") % 100 === mod)
      .select((col("o_orderkey") + shift).as("o_orderkey"),
        col("o_custkey"), price(col("o_totalprice")).as("o_totalprice"),
        lit(date).cast("timestamp").as("o_orderdate"),
        lit(commit).as("commit_id"))
      .write.insertInto(data)
  }

  /** Head (max) version of a manifest table — the other manifest
    * lookup every writer/maintainer repeats; one definition (the
    * commitsOf consolidation, r11). */
  private[graft] def headVersion(spark: SparkSession,
      manifest: String): Int =
    spark.table(manifest).agg(max(col("version")))
      .collect().head.getInt(0)

  /** Stage the NEXT manifest version: clone `baseV`'s commit rows
    * (default: the current head's) under head+1 and append `commit`
    * to them — the staging block q323's branches and q335's
    * transactions share. Returns the staged version. */
  private[graft] def stageManifestVersion(spark: SparkSession,
      manifest: String, commit: String,
      baseV: Option[Int] = None): Int = {
    import spark.implicits._
    val head = headVersion(spark, manifest)
    val v = head + 1
    spark.table(manifest).filter(col("version") === baseV.getOrElse(head))
      .select(lit(v).as("version"), col("commit_id"))
      .unionByName(Seq((v, commit)).toDF("version", "commit_id"))
      .localCheckpoint().write.insertInto(manifest)
    v
  }

  /** Commits of one manifest version — THE manifest lookup of this
    * tier, defined once for every reader and planner (readVersion,
    * the q312/q324 changelog plans, q321's CAS, q326's clone,
    * [[Dedup.cdChurn]]); metadata-sized by construction (a version
    * is a list of segments). */
  private[graft] def commitsOf(spark: SparkSession, manifest: String,
      version: Int): Set[String] =
    spark.table(manifest).filter(col("version") === version)
      .select(col("commit_id")).collect().map(_.getString(0)).toSet

  /** Commit sets of SEVERAL manifest versions in one collect — the
    * batched form of [[commitsOf]] for callers that compare or diff
    * versions (r15 opt: a gate/changelog check that issued one tiny
    * job per version now issues one per MANIFEST; each collect is
    * metadata-sized either way, but the per-action driver overhead
    * dominates these lookups at bench scale and the batched shape is
    * also one manifest read instead of k at cluster scale). Missing
    * versions resolve to empty sets, matching commitsOf. */
  private[graft] def commitsOfMany(spark: SparkSession, manifest: String,
      versions: Seq[Int]): Map[Int, Set[String]] = {
    val found = spark.table(manifest)
      .filter(col("version").isin(versions.distinct: _*))
      .select(col("version"), col("commit_id")).collect()
      .groupBy(_.getInt(0))
      .map { case (v, rows) => v -> rows.map(_.getString(1)).toSet }
    versions.distinct.map(v => v -> found.getOrElse(v, Set.empty[String]))
      .toMap
  }

  /** Read one snapshot: manifest lookup → static commit predicate →
    * partition-pruned scan. */
  private[graft] def readVersion(spark: SparkSession, data: String,
      manifest: String, version: Int): DataFrame = {
    val commits = commitsOf(spark, manifest, version).toSeq
    spark.table(data).filter(col("commit_id").isin(commits: _*))
  }

  /** Time travel: the same aggregate at each of the three versions —
    * v1 (base), v2 (after append), v3 (after the retention delete).
    * Every read is manifest-pruned; v1 and v2 stay byte-stable after
    * v3 commits because no commit is ever edited in place
    * (TableFormatSpec re-reads v2 and asserts the hash). The oracle
    * re-derives each version from the cut/cutoff predicates. */
  def q309TimeTravel(spark: SparkSession, dir: String): DataFrame = {
    val (data, manifest, _) = buildSnapshots(spark, dir, "_snap")
    (1 to 3).map { v =>
      readVersion(spark, data, manifest, v)
        .agg(count(lit(1)).as("n_rows"),
          dsum(col("o_totalprice")).as("sum_price"),
          min(col("o_orderkey")).as("min_okey"),
          max(col("o_orderkey")).as("max_okey"))
        .select(lit(v).as("version"), col("n_rows"), col("sum_price"),
          col("min_okey"), col("max_okey"))
    }.reduce(_ unionByName _).orderBy(col("version"))
  }

  /** Snapshot EXPIRY + VACUUM: retire all versions but the latest,
    * then physically reclaim segments no live version references —
    * the GC half of a snapshot-isolated table, and the reason
    * time travel has a bounded storage bill. Reachability is pure
    * MANIFEST arithmetic (live = the latest version's commit set;
    * on-disk = the segstats ledger; unreachable = the difference) —
    * no data is read to DECIDE, exactly like the retention locate in
    * [[buildSnapshots]]. Reclaim is a partition drop per unreachable
    * commit (immutable segments make GC a directory delete, never a
    * rewrite). The report is falsifiable the q305 way: `n_rows` per
    * segment comes from the pre-vacuum ledger, but `n_rows_after` is
    * COUNTED from the post-vacuum table — a vacuum that deletes a
    * live segment, or misses a dead one, hash-fails against the
    * oracle's predicate arithmetic. TableFormatSpec additionally
    * asserts the latest version re-reads byte-identically after the
    * vacuum. */
  def q310SnapshotVacuum(spark: SparkSession, dir: String): DataFrame = {
    val (data, manifest, segstats) = buildSnapshots(spark, dir, "_gc")
    val latest = spark.table(manifest).agg(max(col("version")))
      .collect().head.getInt(0)
    val live = commitsOf(spark, manifest, latest)
    val onDisk = spark.table(segstats)
      .select(col("commit_id")).collect().map(_.getString(0)).toSet
    // expire: the manifest forgets the old versions first, so a
    // concurrent reader can no longer pin a segment this vacuum is
    // about to drop (the expire-then-vacuum two-phase every table
    // format documents)
    val keptManifest = spark.table(manifest)
      .filter(col("version") === latest).localCheckpoint()
    keptManifest.write.mode(SaveMode.Overwrite).saveAsTable(manifest)
    val dead = (onDisk -- live).toSeq.sorted
    Scale.dropPartitions(spark, data,
      dead.map(c => s"commit_id='$c'"))
    val after = spark.table(data).groupBy(col("commit_id"))
      .agg(count(lit(1)).as("n_rows_after"))
    spark.table(segstats)
      .select(col("commit_id"), col("n_rows"))
      .join(after, Seq("commit_id"), "left")
      .select(col("commit_id"), col("n_rows"),
        when(col("commit_id").isin(live.toSeq: _*), "retained")
          .otherwise("reclaimed").as("status"),
        coalesce(col("n_rows_after"), lit(0L)).as("n_rows_after"))
      .orderBy(col("commit_id"))
  }

  /** MERGE INTO the versioned table (the CRUD move that makes a
    * snapshot table a TABLE): a CDC change batch — updates, deletes,
    * and inserts — applies to the latest version and produces a NEW
    * version, copy-on-write. The part that matters at 100 TB is the
    * ROUTING: matched changes (U/D) carry the same date the segments
    * are cut by, so the touched-segment set comes from joining the
    * change batch's date span against SEGMENT STATS — metadata only,
    * no data read to plan. Here the correction batch targets 1997-H1,
    * so exactly one of three segments rewrites (`c1` → `c1_mg`);
    * inserts carry out-of-range dates and land as a brand-new commit
    * (`c3`); untouched segments are CARRIED by manifest reference —
    * zero IO. Every prior version stays readable (immutable commits;
    * TableFormatSpec asserts v3 re-reads byte-stable across the
    * merge and that the rewrite scan lists only the touched
    * partition). The report is falsifiable the q305/q310 way:
    * per-segment `n_rows`/`sum_price` are COUNTED from the
    * post-merge table, so a lost update, an unapplied delete, or a
    * dropped bystander hash-fails against the oracle's predicate
    * arithmetic (updates add 1000.00 to the price — the sum moves
    * with every applied update). */
  def q315SnapshotMerge(spark: SparkSession, dir: String): DataFrame = {
    val (data, manifest, segstats) = buildSnapshots(spark, dir, "_mg")
    val updLo = lit("1997-01-01").cast("timestamp")
    val updHi = lit("1997-07-01").cast("timestamp")
    val isUpd = col("o_orderkey") % 100 === 7 &&
      col("o_orderdate") >= updLo && col("o_orderdate") < updHi
    val isDel = col("o_orderkey") % 100 === 29 &&
      col("o_orderdate") >= updLo && col("o_orderdate") < updHi

    // plan from metadata: latest version's segments whose stats range
    // overlaps the change batch's date span
    val latest = spark.table(manifest).agg(max(col("version")))
      .collect().head.getInt(0)
    val live = commitsOf(spark, manifest, latest)
    val touched = spark.table(segstats)
      .filter(col("commit_id").isin(live.toSeq: _*))
      .filter(col("min_ts") < updHi && col("max_ts") >= updLo)
      .select(col("commit_id")).collect().map(_.getString(0)).toSeq.sorted

    // copy-on-write of the touched segments only: deletes anti-filter,
    // updates rewrite in place, everyone else carries through
    touched.foreach { c =>
      spark.table(data)
        .filter(col("commit_id") === c)
        .filter(!isDel)
        .select(col("o_orderkey"), col("o_custkey"),
          when(isUpd, col("o_totalprice") + 1000.0)
            .otherwise(col("o_totalprice")).as("o_totalprice"),
          col("o_orderdate"), lit(s"${c}_mg").as("commit_id"))
        .write.insertInto(data)
    }
    // inserts: out-of-range dates → a brand-new commit, never a rewrite
    Tables.requireKeyHeadroom(spark, dir, 10000000L)
    val inserts = Tables.orders(spark, dir)
      .filter(col("o_orderkey") % 100 === 13)
      .select((col("o_orderkey") + 10000000L).as("o_orderkey"),
        col("o_custkey"), col("o_totalprice"),
        lit("2002-01-15").cast("timestamp").as("o_orderdate"),
        lit("c3").as("commit_id"))
    inserts.write.insertInto(data)

    import spark.implicits._
    val v4 = (live -- touched).toSeq ++ touched.map(_ + "_mg") :+ "c3"
    v4.sorted.map((latest + 1, _)).toDF("version", "commit_id")
      .write.insertInto(manifest)

    val rewritten = touched.map(_ + "_mg").toSet
    readVersion(spark, data, manifest, latest + 1)
      .groupBy(col("commit_id"))
      .agg(count(lit(1)).as("n_rows"),
        dsum(col("o_totalprice")).as("sum_price"))
      .select(col("commit_id"), col("n_rows"), col("sum_price"),
        when(col("commit_id").isin(rewritten.toSeq: _*), "rewritten")
          .when(col("commit_id") === "c3", "appended")
          .otherwise("carried").as("status"))
      .orderBy(col("commit_id"))
  }

  /** PARTITION EVOLUTION: the segment-cut rule changes mid-history —
    * early commits are YEAR-grained (c0 = [1995,1997), c1 =
    * [1997,1999), the coarse cuts a young table starts with), newer
    * commits HALF-YEAR-grained (h0..h5 over [1999,2002), the finer
    * grain the table tightened to as it grew) — and READS DO NOT
    * CARE, because routing is per-segment min/max STATS, never a
    * path-naming convention. That indifference is the distinguishing
    * move of a stats-based metadata layer over Hive-style directory
    * partitioning, where a layout change historically meant rewriting
    * the whole table (or running two tables). The probe here spans
    * the generation boundary ([1998-06-01, 2000-06-01)) and touches
    * one coarse segment + three fine ones; TableFormatSpec asserts
    * the scan lists exactly the stats-overlapping partitions of BOTH
    * grains and none of the other four. Per-segment counts are taken
    * from the pruned read, so the routing is in the hash. */
  def q316PartitionEvolution(spark: SparkSession, dir: String): DataFrame = {
    val data = "graft_snap_data_pe"
    val segstats = "graft_snap_segstats_pe"
    Seq(data, segstats).foreach(Scale.dropManaged(spark, _))
    val orders = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        col("o_orderdate"))
    val d = col("o_orderdate")
    def ts(s: String) = lit(s).cast("timestamp")
    val seg = when(d < ts("1997-01-01"), "c0")
      .when(d < ts("1999-01-01"), "c1")
      .when(d < ts("1999-07-01"), "h0")
      .when(d < ts("2000-01-01"), "h1")
      .when(d < ts("2000-07-01"), "h2")
      .when(d < ts("2001-01-01"), "h3")
      .when(d < ts("2001-07-01"), "h4")
      .otherwise("h5")
    orders.withColumn("commit_id", seg)
      .write.partitionBy("commit_id")
      .mode(SaveMode.Overwrite).saveAsTable(data)
    spark.table(data).groupBy(col("commit_id"))
      .agg(min(col("o_orderdate")).as("min_ts"),
        max(col("o_orderdate")).as("max_ts"))
      .write.mode(SaveMode.Overwrite).saveAsTable(segstats)

    val (pLo, pHi) = (ts("1998-06-01"), ts("2000-06-01"))
    val hit = spark.table(segstats)
      .filter(col("min_ts") < pHi && col("max_ts") >= pLo)
      .select(col("commit_id")).collect().map(_.getString(0)).toSeq
    spark.table(data)
      .filter(col("commit_id").isin(hit: _*))
      .filter(d >= pLo && d < pHi)
      .groupBy(col("commit_id"))
      .agg(count(lit(1)).as("n_in_range"),
        dsum(col("o_totalprice")).as("sum_in_range"))
      .select(col("commit_id"),
        when(col("commit_id").startsWith("c"), "year")
          .otherwise("half_year").as("grain"),
        col("n_in_range"), col("sum_in_range"))
      .orderBy(col("commit_id"))
  }

  // ------------------------------------------ small-commit compaction

  private[graft] val CpData = "graft_snap_data_cp"
  private[graft] val CpManifest = "graft_snap_manifest_cp"
  private[graft] val CpSegstats = "graft_snap_segstats_cp"

  /** Adjacent small commits per consolidated segment. At production
    * file sizes the knob is a byte target (128 MB–1 GB); grouping a
    * FIXED COUNT of time-adjacent commits is the same bin-pack with
    * the fixture's uniform commit sizes. */
  private[graft] val CpPackSize = 4

  /** The q318 probe window — two years spanning several half-year
    * commits, the report-query shape a consolidated table serves. */
  private[graft] val CpProbe = ("1997-03-01", "1999-03-01")

  /** Stats-routed date probe of one version: overlap against the
    * segment ledger picks the file set (metadata arithmetic), the
    * pruned read aggregates the slice — `n_rows`/`sum_price` are
    * layout-independent physics, `files_scanned` is the layout's
    * whole value. The q313 probe, date-keyed. */
  private def dateProbe(spark: SparkSession, data: String,
      segstats: String, live: Seq[String], phase: String): DataFrame = {
    val (lo, hi) =
      (lit(CpProbe._1).cast("timestamp"), lit(CpProbe._2).cast("timestamp"))
    val hit = spark.table(segstats)
      .filter(col("commit_id").isin(live: _*))
      .filter(col("min_ts") < hi && col("max_ts") >= lo)
      .select(col("commit_id")).collect().map(_.getString(0)).toSeq
    spark.table(data)
      .filter(col("commit_id").isin(hit: _*))
      .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi)
      .agg(count(lit(1)).as("n_rows"),
        dsum(col("o_totalprice")).as("sum_price"))
      .select(lit(phase).as("phase"), lit(live.size.toLong).as("files_total"),
        lit(hit.size.toLong).as("files_scanned"), col("n_rows"),
        col("sum_price"))
  }

  /** SMALL-COMMIT COMPACTION for the snapshot tier — the maintenance
    * move q314's streaming ingest makes necessary: one commit per
    * micro-batch is thousands of tiny segments at production cadence
    * (the band index already has this move in q241, the IVF cells in
    * q301; this is the snapshot tier's). The table arrives as
    * half-year ingest commits (14 at this fixture — the q314 shape,
    * batch-built), one version per commit, and the compactor
    * BIN-PACKS [[CpPackSize]] time-adjacent commits into each
    * consolidated segment:
    *
    *  - the rewrite reads ONLY small segments (here: all of them; in
    *    production only the small tail — the bin-packer plans from
    *    the ledger's per-segment row counts, metadata arithmetic);
    *  - consolidated segment STATS come from folding the small
    *    segments' ledger rows — no data read to derive them;
    *  - the new version references only packed segments via a
    *    manifest APPEND; every historical version keeps referencing
    *    the small commits, which stay on disk untouched (reclaiming
    *    them once the old versions expire is q310's vacuum, a
    *    separate move) — so compaction never breaks time travel,
    *    which TableFormatSpec asserts by diffing the last small-built
    *    version against the packed version row-for-row.
    *
    * The report prices the move: the same two-year probe through both
    * layouts returns the identical slice (`n_rows`/`sum_price` in the
    * hash) from ~4× fewer files — at 100 TB with object-store
    * listing/open latency per file, that factor is the difference
    * between a planner that spends its time reading and one that
    * spends it listing. */
  def q318CommitCompaction(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Seq(CpData, CpManifest, CpSegstats).foreach(Scale.dropManaged(spark, _))
    val orders = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        col("o_orderdate"))
    // half-year ingest commits: s00, s01, … in arrival order
    val bucket = (year(col("o_orderdate")) - 1995) * 2 +
      when(month(col("o_orderdate")) > 6, 1).otherwise(0)
    orders.withColumn("commit_id", format_string("s%02d", bucket))
      .write.partitionBy("commit_id")
      .mode(SaveMode.Overwrite).saveAsTable(CpData)
    spark.table(CpData).groupBy(col("commit_id"))
      .agg(min(col("o_orderdate")).as("min_ts"),
        max(col("o_orderdate")).as("max_ts"),
        count(lit(1)).as("n_rows"))
      .write.mode(SaveMode.Overwrite).saveAsTable(CpSegstats)
    val smalls = spark.table(CpSegstats).select(col("commit_id"))
      .collect().map(_.getString(0)).toSeq.sorted
    // one version per ingest commit — the q314 manifest shape
    (1 to smalls.size).flatMap(v => smalls.take(v).map((v, _)))
      .toDF("version", "commit_id")
      .write.mode(SaveMode.Overwrite).saveAsTable(CpManifest)

    val before = dateProbe(spark, CpData, CpSegstats, smalls, "before")

    // bin-pack: CpPackSize adjacent smalls per consolidated segment;
    // ONE pass over the small segments rewrites them all (each file
    // is read exactly once), routed by a broadcast pack map. Pack
    // membership is BY BUCKET VALUE (floorDiv(bucket, packSize)) —
    // the same arithmetic the oracle's `bk // 4` computes — so the
    // two engines agree even if a half-year bucket were empty;
    // rank-based packing would silently shift membership on sparse
    // fixtures (the r9 layoutDims lesson: the invariant lives in the
    // arithmetic, not in the data happening to be dense).
    val packOf = smalls.map { s =>
      (s, s"p${Math.floorDiv(s.stripPrefix("s").toInt, CpPackSize)}")
    }
    val packs = packOf.map(_._2).distinct.sorted
    spark.table(CpData)
      .join(broadcast(packOf.toDF("commit_id", "pack")), "commit_id")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        col("o_orderdate"), col("pack").as("commit_id"))
      .write.insertInto(CpData)
    // consolidated stats fold from the LEDGER, not from data
    spark.table(CpSegstats)
      .join(broadcast(packOf.toDF("commit_id", "pack")), "commit_id")
      .groupBy(col("pack"))
      .agg(min(col("min_ts")).as("min_ts"), max(col("max_ts")).as("max_ts"),
        sum(col("n_rows")).as("n_rows"))
      .select(col("pack").as("commit_id"), col("min_ts"), col("max_ts"),
        col("n_rows"))
      .write.insertInto(CpSegstats)
    packs.map((smalls.size + 1, _)).toDF("version", "commit_id")
      .write.insertInto(CpManifest)

    val after = dateProbe(spark, CpData, CpSegstats, packs, "after")
    before.unionByName(after).orderBy(col("phase"))
  }

  // ------------------------------------- merge-on-read deletion vectors

  private[graft] val MorData = "graft_snap_data_mor"
  private[graft] val MorManifest = "graft_snap_manifest_mor"
  private[graft] val MorSegstats = "graft_snap_segstats_mor"
  private[graft] val MorDeletes = "graft_snap_deletes_mor"
  private[graft] val MorDManifest = "graft_snap_dmanifest_mor"

  /** Fold a segment's deletes into a copy-on-write rewrite once its
    * delete density crosses this fraction — below it, a read-time
    * anti-join is cheaper than rewriting the segment. The classic
    * Iceberg/Delta maintenance trigger, spec-asserted to fire for
    * exactly the segments past it. */
  private[graft] val MorFoldThreshold = 0.05

  /** Route a key-delete batch to its target segments through SEGMENT
    * STATS: every CDC delete row carries the record's date, live
    * segments' [min,max] date spans are disjoint, so the broadcast
    * inner join assigns each key its one target commit — and drops
    * takedowns referencing rows no live segment holds (already
    * expired), which is exactly what applying them would do anyway.
    * No base data is read to plan a delete. */
  private[graft] def routeDeletes(spark: SparkSession, segstats: String,
      live: Seq[String], batch: DataFrame, dbatch: String): DataFrame =
    batch.join(
      broadcast(spark.table(segstats)
        .filter(col("commit_id").isin(live: _*))
        .select(col("commit_id").as("target_commit"),
          col("min_ts"), col("max_ts"))),
      col("o_orderdate") >= col("min_ts") &&
        col("o_orderdate") <= col("max_ts"))
      .select(col("o_orderkey").as("del_key"), col("target_commit"),
        lit(dbatch).as("dbatch"))

  /** The two branches of a merge-on-read version read, plus the
    * delete rows in scope. A version resolves to (commit set, delete
    * batch set) from the two manifests; delete rows apply only where
    * their target commit is LIVE in that version (a folded segment's
    * artifacts go inert without being rewritten — file-scoped
    * deletes, the Iceberg contract). Segments no scoped delete
    * targets are read DIRECTLY — no join at all — and only touched
    * segments pay the broadcast anti-join; at 100 TB the delete
    * relation is the recent churn (bounded, metadata-adjacent), never
    * the corpus. TableFormatSpec asserts both branches' partition
    * pruning separately, which is why they are exposed unpacked. */
  /** Pre-collected MoR planning metadata for a SET of versions — the
    * batched form of the three per-version lookups [[morBranchesAt]]
    * needs (r15 opt): a report that reads k versions of one table
    * previously issued 3k metadata jobs; all three tables are
    * metadata-sized, so one collect each covers every version. */
  private[graft] case class MorMeta(
      commits: Map[Int, Set[String]],
      dbatches: Map[Int, Set[String]],
      batchTargets: Map[String, Set[String]])

  private[graft] def morMetaAt(spark: SparkSession, manifest: String,
      deletes: String, dmanifest: String,
      versions: Seq[Int]): MorMeta = {
    val commits = commitsOfMany(spark, manifest, versions)
    val dbs = spark.table(dmanifest)
      .filter(col("version").isin(versions.distinct: _*))
      .select(col("version"), col("dbatch")).collect()
      .groupBy(_.getInt(0))
      .map { case (v, rows) => v -> rows.map(_.getString(1)).toSet }
    val targets = spark.table(deletes)
      .select(col("dbatch"), col("target_commit")).distinct().collect()
      .groupBy(_.getString(0))
      .map { case (b, rows) => b -> rows.map(_.getString(1)).toSet }
    MorMeta(commits,
      versions.distinct.map(v =>
        v -> dbs.getOrElse(v, Set.empty[String])).toMap,
      targets)
  }

  /** [[morBranchesAt]] planned from pre-collected [[MorMeta]] — zero
    * metadata jobs per call; `touched` is derived from the meta
    * (batch targets ∩ the version's commits), which equals the
    * collected distinct target set of the scoped artifact rows. */
  private[graft] def morBranchesFromMeta(spark: SparkSession,
      data: String, deletes: String, meta: MorMeta,
      version: Int): (DataFrame, DataFrame, DataFrame) = {
    val commits = meta.commits.getOrElse(version, Set.empty).toSeq
    val dbs = meta.dbatches.getOrElse(version, Set.empty).toSeq.sorted
    val scoped = spark.table(deletes)
      .filter(col("dbatch").isin(dbs: _*))
      .filter(col("target_commit").isin(commits: _*))
    val touched = dbs
      .flatMap(meta.batchTargets.getOrElse(_, Set.empty[String]))
      .toSet.intersect(commits.toSet).toSeq.sorted
    val direct = spark.table(data)
      .filter(col("commit_id").isin(commits.filterNot(touched.contains): _*))
    val anti = spark.table(data)
      .filter(col("commit_id").isin(touched: _*))
      .join(broadcast(scoped),
        col("o_orderkey") === col("del_key") &&
          col("commit_id") === col("target_commit"), "left_anti")
    (direct, anti, scoped)
  }

  private[graft] def morBranchesAt(spark: SparkSession, data: String,
      manifest: String, deletes: String, dmanifest: String,
      version: Int): (DataFrame, DataFrame, DataFrame) =
    morBranchesFromMeta(spark, data, deletes,
      morMetaAt(spark, manifest, deletes, dmanifest, Seq(version)),
      version)

  private[graft] def morBranches(spark: SparkSession,
      version: Int): (DataFrame, DataFrame, DataFrame) =
    morBranchesAt(spark, MorData, MorManifest, MorDeletes, MorDManifest,
      version)

  /** MERGE-ON-READ deletion vectors — the other half of q315's MERGE.
    * q315 is copy-on-write only: one corrected row rewrites its whole
    * segment, the wrong trade for the write shape LLM curation
    * actually produces (frequent SMALL takedown/correction batches).
    * Here a delete batch lands as a key-delete ARTIFACT plus a new
    * version — zero base-data IO — and reads apply it as a broadcast
    * anti-join over only the touched segments; a density trigger
    * later folds a heavily-deleted segment into a CoW rewrite
    * (reusing q315's per-segment rewrite shape) while light segments
    * keep their artifacts.
    *
    * Lifecycle, all planned from metadata + artifacts:
    *  - v3: the base snapshot table ([[buildSnapshots]]).
    *  - v4: takedown batch d1 (keys %1000==41, dates anywhere) routes
    *    through segment stats — a few keys per live segment, far
    *    under threshold; takedowns for already-expired rows drop at
    *    routing, like the no-op deletes they are.
    *  - v5: correction batch d2 (keys %10==3 inside c1's span) — ~10%
    *    of c1, all routed to that one segment.
    *  - fold: per-segment density = |scoped deletes| / ledger row
    *    count (artifact ÷ metadata, no data read to DECIDE); only c1
    *    crosses [[MorFoldThreshold]], rewrites to `c1_f` with its
    *    deletes applied, and v6 swaps it in. d1's rows targeting the
    *    other segments stay live artifacts; d2's go inert because
    *    their target commit left the manifest.
    *
    * Every prior version stays readable and byte-stable (immutable
    * commits + append-only artifacts); v5 read through artifacts and
    * v6 read through the fold must agree row-for-row, which
    * TableFormatSpec asserts directly — and the report's per-version
    * `n_rows`/`sum_price` are COUNTED from the real reads, so an
    * unapplied delete, a double-applied delete, or a fold that drops
    * a bystander hash-fails against the oracle's predicate
    * arithmetic. `n_live_deletes` counts the scoped artifact rows —
    * the "how much MoR debt is this version carrying" number a
    * maintenance scheduler reads. */
  /** Replay the full MoR lifecycle under the given table-name
    * suffix — v3 base snapshots, v4 takedown batch d1, v5 correction
    * batch d2, density-triggered fold, v6 — and return every
    * artifact name plus the base version. ONE definition shared by
    * q317 (which reports on it) and q329 (which compacts the delete
    * debt it leaves behind); the lifecycle mechanics are documented
    * on [[q317MergeOnReadDeletes]]. */
  private[graft] def buildMorLifecycle(spark: SparkSession, dir: String,
      suffix: String): (String, String, String, String, String, Int) = {
    import spark.implicits._
    val (data, manifest, segstats) = buildSnapshots(spark, dir, suffix)
    val deletes = s"graft_snap_deletes$suffix"
    val dmanifest = s"graft_snap_dmanifest$suffix"
    Seq(deletes, dmanifest).foreach(Scale.dropManaged(spark, _))
    val latest = spark.table(manifest).agg(max(col("version")))
      .collect().head.getInt(0)
    val live = commitsOf(spark, manifest, latest).toSeq.sorted

    // v4: takedown batch d1 — artifact + manifest rows, no data IO.
    // The three writes land in three DIFFERENT tables (artifact
    // ledger, manifest, delete-manifest) — one concurrent wave per
    // version instead of three serial jobs (guide §2.6, r16)
    val orders = Tables.orders(spark, dir)
    Scale.inParallel(
      () => routeDeletes(spark, segstats, live,
          orders.filter(col("o_orderkey") % 1000 === 41)
            .select(col("o_orderkey"), col("o_orderdate")), "d1")
        .write.partitionBy("dbatch")
        .mode(SaveMode.Overwrite).saveAsTable(deletes),
      () => live.map((latest + 1, _)).toDF("version", "commit_id")
        .write.insertInto(manifest),
      () => Seq((latest + 1, "d1")).toDF("version", "dbatch")
        .write.mode(SaveMode.Overwrite).saveAsTable(dmanifest))

    // v5: correction batch d2, same discipline
    Scale.inParallel(
      () => routeDeletes(spark, segstats, live,
          orders.filter(col("o_orderkey") % 10 === 3 &&
              col("o_orderdate") >= lit(C0End).cast("timestamp") &&
              col("o_orderdate") < lit(C1End).cast("timestamp"))
            .select(col("o_orderkey"), col("o_orderdate")), "d2")
        .write.insertInto(deletes),
      () => live.map((latest + 2, _)).toDF("version", "commit_id")
        .write.insertInto(manifest),
      () => Seq((latest + 2, "d1"), (latest + 2, "d2"))
        .toDF("version", "dbatch")
        .write.insertInto(dmanifest))

    // density-triggered fold: artifact count ÷ ledger count per
    // segment — only segments past the threshold rewrite (CoW,
    // pruned to that one partition); the rest keep their artifacts
    val (_, _, scoped5) = morBranchesAt(spark, data, manifest, deletes,
      dmanifest, latest + 2)
    val folded = scoped5.groupBy(col("target_commit"))
      .agg(count(lit(1)).as("n_del"))
      .join(spark.table(segstats)
        .select(col("commit_id").as("target_commit"), col("n_rows")),
        "target_commit")
      .filter(col("n_del") >= col("n_rows") * MorFoldThreshold)
      .select(col("target_commit")).collect().map(_.getString(0))
      .toSeq.sorted
    // ONE insert for every folded commit (r16, same move as the
    // buildSnapshots rewrite loop)
    if (folded.nonEmpty)
      folded.map { c =>
        spark.table(data).filter(col("commit_id") === c)
          .join(broadcast(scoped5.filter(col("target_commit") === c)),
            col("o_orderkey") === col("del_key"), "left_anti")
          .select(col("o_orderkey"), col("o_custkey"),
            col("o_totalprice"), col("o_orderdate"),
            lit(s"${c}_f").as("commit_id"))
      }.reduce(_ unionByName _).write.insertInto(data)
    val v6 = (live.filterNot(folded.contains) ++ folded.map(_ + "_f"))
      .sorted
    // v6's two manifest rows go to different tables — one wave
    Scale.inParallel(
      () => v6.map((latest + 3, _)).toDF("version", "commit_id")
        .write.insertInto(manifest),
      () => Seq((latest + 3, "d1"), (latest + 3, "d2"))
        .toDF("version", "dbatch")
        .write.insertInto(dmanifest))
    (data, manifest, segstats, deletes, dmanifest, latest)
  }

  def q317MergeOnReadDeletes(spark: SparkSession, dir: String): DataFrame = {
    val (_, _, _, _, _, latest) = buildMorLifecycle(spark, dir, "_mor")
    // one metadata pass for all four reported versions (r15 opt)
    val meta = morMetaAt(spark, MorManifest, MorDeletes, MorDManifest,
      latest to latest + 3)

    val vs = Seq((latest, "base"), (latest + 1, "mor"),
      (latest + 2, "mor"), (latest + 3, "folded"))
    // SINGLE-SCAN per-version report (r16): same mask rewrite as
    // q339 (see PositionDeletes.q339PositionDeletes for the full
    // argument) — one data pass with the per-(segment, key) delete-
    // batch sets attached replaces four merged reads; each version is
    // a conditional aggregate over exactly the rows its
    // morBranchesFromMeta read produced (the target-scope filter is
    // implied by the row's own manifest membership), and sum_price
    // stays the exact decimal sum, so the report is bit-identical.
    val hits = spark.table(MorDeletes)
      .groupBy(col("target_commit").as("commit_id"),
        col("del_key").as("o_orderkey"))
      .agg(collect_set(col("dbatch")).as("del_b"))
    val scan = spark.table(MorData)
      .join(broadcast(hits), Seq("commit_id", "o_orderkey"), "left")
    def alive(v: Int): Column = {
      val commits = meta.commits.getOrElse(v, Set.empty).toSeq.sorted
      val dbs = meta.dbatches.getOrElse(v, Set.empty[String]).toSeq.sorted
      val inV = col("commit_id").isin(commits: _*)
      if (dbs.isEmpty) inV
      else inV && !coalesce(
        arrays_overlap(col("del_b"), typedlit(dbs)), lit(false))
    }
    val dataCols = vs.flatMap { case (v, _) => Seq(
      coalesce(sum(when(alive(v), 1L)), lit(0L)).as(s"n_$v"),
      dsum(when(alive(v), col("o_totalprice"))).as(s"s_$v")) }
    val dataAgg = scan.agg(dataCols.head, dataCols.tail: _*)
    val delCols = vs.map { case (v, _) =>
      val commits = meta.commits.getOrElse(v, Set.empty).toSeq.sorted
      val dbs = meta.dbatches.getOrElse(v, Set.empty[String]).toSeq.sorted
      coalesce(sum(when(col("dbatch").isin(dbs: _*) &&
        col("target_commit").isin(commits: _*), 1L)), lit(0L))
        .as(s"d_$v") }
    val delAgg = spark.table(MorDeletes)
      .agg(delCols.head, delCols.tail: _*)
    dataAgg.crossJoin(delAgg)
      .select(expr("stack(4, " + vs.map { case (v, s) =>
        s"$v, '$s', n_$v, s_$v, d_$v" }.mkString(", ") +
        ") as (version, status, n_rows, sum_price, n_live_deletes)"))
      .orderBy(col("version"))
  }

  // ------------------------------------- delete-artifact compaction

  private[graft] val DmData = "graft_snap_data_dm"
  private[graft] val DmManifest = "graft_snap_manifest_dm"
  private[graft] val DmDeletes = "graft_snap_deletes_dm"
  private[graft] val DmDManifest = "graft_snap_dmanifest_dm"

  /** DELETE-ARTIFACT MAINTENANCE — the q318 move for the MoR delete
    * side, closing the debt q317 leaves open: light segments keep
    * their artifacts forever and the delete manifest re-lists every
    * batch per version, so at production takedown cadence both grow
    * without bound. The compactor is pure artifact/metadata work —
    * base data is never read OR written:
    *
    *  1. CONSOLIDATE: the delete rows in scope at the latest version
    *     (the one shared [[morBranchesAt]] scope rule) rewrite into a
    *     single batch `dc0`. Rows whose target commit left every live
    *     manifest drop RIGHT HERE — d2's rows (their segment folded
    *     to `c1_f` in the lifecycle) and d1's c1-targeted rows are
    *     inert: no read can ever apply them again, so carrying them
    *     is pure debt. The scope rule does the dropping; inertness is
    *     not a second code path that could disagree with the reader.
    *  2. PUBLISH: version v+1 references the same commit set with
    *     delete scope {dc0} — manifest + delete-manifest APPENDS,
    *     the tier's standard publish shape.
    *  3. EXPIRE + VACUUM: old versions retire (the q310 two-phase),
    *     then batch partitions no surviving delete-manifest row
    *     references drop, as do data segments no surviving version
    *     lists — the same reclaim move, now running on the ARTIFACT
    *     table too.
    *
    * The report is falsifiable end to end: `n_rows`/`sum_price` are
    * counted from the REAL reads before and after (byte-stability of
    * the read through compacted artifacts is in the hash), the
    * artifact/manifest counters come from the real tables, and the
    * oracle re-derives every number — including the inert-row drop —
    * from predicate arithmetic. At 100 TB this caps MoR read cost:
    * the per-version delete relation becomes one bounded batch
    * instead of every takedown since the last rewrite. */
  def q329DeleteArtifactCompaction(spark: SparkSession,
      dir: String): DataFrame = {
    import spark.implicits._
    val (data, manifest, _, deletes, dmanifest, latest) =
      buildMorLifecycle(spark, dir, "_dm")
    val v6 = latest + 3

    def stateRow(phase: String,
        branches: (DataFrame, DataFrame, DataFrame)): DataFrame = {
      val (direct, anti, _) = branches
      // all four metadata counters in ONE action (r15 opt) — the
      // tables are metadata-sized, the per-action overhead was not
      val m = spark.table(manifest)
        .agg(countDistinct(col("version")).as("nv"))
        .crossJoin(spark.table(deletes)
          .agg(countDistinct(col("dbatch")).as("nb"),
            count(lit(1)).as("na")))
        .crossJoin(spark.table(dmanifest).agg(count(lit(1)).as("nd")))
        .collect().head
      val (nVersions, nBatches, nArtifact, nDmRows) =
        (m.getLong(0), m.getLong(1), m.getLong(2), m.getLong(3))
      direct.unionByName(anti)
        .agg(count(lit(1)).as("n_rows"),
          dsum(col("o_totalprice")).as("sum_price"))
        .select(lit(phase).as("phase"), lit(nVersions).as("n_versions"),
          lit(nBatches).as("n_dbatches"),
          lit(nArtifact).as("n_artifact_rows"),
          lit(nDmRows).as("n_dmanifest_rows"),
          col("n_rows"), col("sum_price"))
    }
    // ONE v6 planning pass feeds both the before-report and the
    // consolidation input
    val branches6 = morBranchesAt(spark, data, manifest, deletes,
      dmanifest, v6)
    // pin the before-physics: the read must execute against the
    // UNCOMPACTED artifacts, not lazily after they are vacuumed
    val before = stateRow("before", branches6).localCheckpoint()

    // 1. consolidate the in-scope rows into one batch (inert rows
    // drop by the scope rule itself); churn-sized by contract
    val consolidated = branches6._3
      .select(col("del_key"), col("target_commit"),
        lit("dc0").as("dbatch"))
      .localCheckpoint() // break lineage: appends into its own source
    consolidated.write.insertInto(deletes)
    // 2. publish v7: same commits, delete scope = the one batch
    commitsOf(spark, manifest, v6).toSeq.sorted.map((v6 + 1, _))
      .toDF("version", "commit_id").write.insertInto(manifest)
    Seq((v6 + 1, "dc0")).toDF("version", "dbatch")
      .write.insertInto(dmanifest)
    // 3. expire everything but v7, then vacuum unreferenced batch
    // partitions AND unreferenced data segments (shared helpers)
    expireVersions(spark, manifest, col("version") === v6 + 1)
    expireVersions(spark, dmanifest, col("version") === v6 + 1)
    vacuumUnreferenced(spark, deletes, "dbatch",
      spark.table(dmanifest).select(col("dbatch"))
        .distinct().collect().map(_.getString(0)).toSet)
    vacuumData(spark, data, manifest)

    val after = stateRow("after", morBranchesAt(spark, data, manifest,
      deletes, dmanifest, v6 + 1))
    before.unionByName(after).orderBy(col("phase"))
  }

  // ------------------------------------------- two-level metadata

  private[graft] val MlData = "graft_snap_data_ml"
  private[graft] val MlList = "graft_manifest_list_ml"
  private[graft] val MlManifests = "graft_manifests_ml"

  /** The q322 probe window: five months crossing one commit boundary,
    * so both metadata levels have something to prune. */
  private[graft] val MlProbe = ("1997-03-01", "1997-08-01")

  /** TWO-LEVEL METADATA — the manifest-LIST layer the q314 scaladoc
    * names as the 100 TB shape, implemented: at a million data files,
    * even the MANIFEST no longer fits one read, so every real format
    * splits it into per-commit manifest files (file-level stats)
    * indexed by a manifest list (one envelope row per manifest). A
    * probe then plans in two pruning hops:
    *
    *  1. manifest list (one row per COMMIT — metadata of metadata):
    *     envelope overlap names the commits worth opening;
    *  2. only those commits' manifest FILES are read (the manifest
    *     table is partitioned by commit, so this hop is itself a
    *     partition-pruned scan — TableFormatSpec asserts its
    *     partitions-read equals the list-level hit count): file-level
    *     stats name the data files;
    *  3. the data read lists exactly those files.
    *
    * Planning IO is list size + |overlapping commits| manifest files
    * — proportional to the probe's CHURN, not the table's file count;
    * a flat manifest pays metadata IO proportional to the TABLE per
    * probe. Measured honestly (ManifestListProbe, PERF_r10): on local
    * NVMe the flat scan's wall time stays trivial out to ~800k files,
    * so the two-level win at that scale is the 32×-smaller metadata
    * read (the quantity an object store bills per probe and a busy
    * planner serializes), not local latency. Layout: half-year
    * ingest commits, bimonthly files within each (the q318 cut one
    * level deeper); all four counters are re-derived by the oracle
    * from the cut arithmetic, and the probe slice is counted from the
    * real doubly-pruned read. */
  def q322ManifestList(spark: SparkSession, dir: String): DataFrame = {
    Seq(MlData, MlList, MlManifests).foreach(Scale.dropManaged(spark, _))
    val orders = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        col("o_orderdate"))
    val ck = (year(col("o_orderdate")) - 1995) * 2 +
      when(month(col("o_orderdate")) > 6, 1).otherwise(0)
    val fk = ((month(col("o_orderdate")) - 1) / 2).cast("int") % 3
    orders
      .withColumn("commit_id", format_string("s%02d", ck))
      .withColumn("seg_file", format_string("s%02d_f%d", ck, fk))
      .write.partitionBy("seg_file")
      .mode(SaveMode.Overwrite).saveAsTable(MlData)
    // per-commit manifests: file-level stats, PARTITIONED BY COMMIT —
    // each partition is one manifest file; reading it is hop 2
    spark.table(MlData)
      .groupBy(col("commit_id"), col("seg_file"))
      .agg(min(col("o_orderdate")).as("min_ts"),
        max(col("o_orderdate")).as("max_ts"),
        count(lit(1)).as("n_rows"))
      .write.partitionBy("commit_id")
      .mode(SaveMode.Overwrite).saveAsTable(MlManifests)
    // manifest list: one envelope row per manifest — hop 1's input,
    // folded from the manifests (metadata of metadata)
    spark.table(MlManifests)
      .groupBy(col("commit_id"))
      .agg(min(col("min_ts")).as("min_ts"), max(col("max_ts")).as("max_ts"),
        count(lit(1)).as("n_files"))
      .write.mode(SaveMode.Overwrite).saveAsTable(MlList)

    val (lo, hi) =
      (lit(MlProbe._1).cast("timestamp"), lit(MlProbe._2).cast("timestamp"))
    val mfTotal = spark.table(MlList).count()
    val hitCommits = spark.table(MlList)
      .filter(col("min_ts") < hi && col("max_ts") >= lo)
      .select(col("commit_id")).collect().map(_.getString(0)).toSeq.sorted
    val filesTotal = spark.table(MlManifests).count()
    val hitFiles = spark.table(MlManifests)
      .filter(col("commit_id").isin(hitCommits: _*))
      .filter(col("min_ts") < hi && col("max_ts") >= lo)
      .select(col("seg_file")).collect().map(_.getString(0)).toSeq.sorted
    spark.table(MlData)
      .filter(col("seg_file").isin(hitFiles: _*))
      .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi)
      .agg(count(lit(1)).as("n_rows"),
        dsum(col("o_totalprice")).as("sum_price"))
      .select(lit(mfTotal).as("manifests_total"),
        lit(hitCommits.size.toLong).as("manifests_read"),
        lit(filesTotal).as("files_total"),
        lit(hitFiles.size.toLong).as("files_selected"),
        col("n_rows"), col("sum_price"))
  }

  // ------------------------------------- optimistic writer concurrency

  private[graft] val CcData = "graft_snap_data_cc"
  private[graft] val CcManifest = "graft_snap_manifest_cc"

  /** WRITER-CONCURRENCY conflict protocol — the demonstration that
    * relaxes the repo's single-writer convention (documented at the
    * top of this file) into the optimistic contract every table
    * format actually ships: writers stage their DATA first (immutable
    * new segments — safe, invisible until referenced), then publish
    * through a COMPARE-AND-SWAP on the version pointer. The local
    * fixture serializes the committers deliberately (one JVM, no
    * catalog lock service), so what this query certifies is the
    * DECISION TABLE, with every consequence counted from the real
    * table:
    *
    *  - writer A (append, base v3): CAS sees latest == base →
    *    fast-path COMMIT (v4).
    *  - writer B (append, base v3): CAS fails (latest moved to v4),
    *    but an append removes nothing — its intent cannot conflict
    *    with ANY interleaved history → REBASE onto v4 and publish v5.
    *    This is why ingest writers almost never abort.
    *  - writer C (rewrite of segment c1, base v3): CAS fails; its
    *    removed set {c1} is still live at v5 (A/B only appended) →
    *    rebase holds the rewrite's premise → publish v6 swapping
    *    c1 → c1_cc.
    *  - writer D (rewrite of the same c1, base v3): CAS fails; c1 is
    *    NO LONGER live at v6 — its premise was invalidated by C →
    *    ABORT: publish nothing, drop its staged orphan segment (the
    *    q310 reclaim move on a segment no manifest ever referenced).
    *
    * The report counts each writer's segment from the post-race
    * table — an abort that leaked data shows up as n_rows > 0 on the
    * `d` row, a lost append as 0 on `a`/`b`, a rebase that dropped
    * the rewrite's content moves the final sum — and the oracle pins
    * all of it with predicate arithmetic. TableFormatSpec asserts the
    * protocol half the hash can't see: versions 1–6 exist and no
    * more, D's orphan partition is gone, v3 re-reads whole after the
    * race, and v6 equals v5 row-for-row (C's compaction moved bytes,
    * not rows). */
  def q321CommitConflict(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (data, manifest, _) = buildSnapshots(spark, dir, "_cc")
    val base = spark.table(manifest).agg(max(col("version")))
      .collect().head.getInt(0) // v3: every writer's snapshot
    def commitsAt(v: Int): Set[String] = commitsOf(spark, manifest, v)
    def latestVersion: Int = spark.table(manifest)
      .agg(max(col("version"))).collect().head.getInt(0)
    def publish(v: Int, cs: Set[String]): Unit =
      cs.toSeq.sorted.map((v, _)).toDF("version", "commit_id")
        .write.insertInto(manifest)
    /** The decision table: data is already staged; only the version
      * pointer moves here. A real catalog runs this inside its atomic
      * swap; the rules are what this fixture certifies. */
    def attemptCommit(baseV: Int, removes: Set[String],
        adds: Set[String]): String = {
      val latest = latestVersion
      if (latest == baseV) {
        publish(latest + 1, commitsAt(latest) -- removes ++ adds)
        "committed"
      } else if (removes.forall(commitsAt(latest).contains)) {
        publish(latest + 1, commitsAt(latest) -- removes ++ adds)
        "rebased"
      } else "aborted"
    }

    def stageAppend(mod: Int, shift: Long, date: String,
        commit: String): Unit =
      stageCommit(spark, dir, data, mod, shift, date, commit)
    def stageRewrite(from: String, to: String): Unit =
      spark.table(data).filter(col("commit_id") === from)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("o_orderdate"), lit(to).as("commit_id"))
        .write.insertInto(data)

    // all four writers stage from the SAME base snapshot, then race
    stageAppend(17, 20000000L, "2002-02-15", "wa")
    val oA = attemptCommit(base, Set.empty, Set("wa"))
    stageAppend(23, 30000000L, "2002-08-15", "wb")
    val oB = attemptCommit(base, Set.empty, Set("wb"))
    stageRewrite("c1", "c1_cc")
    val oC = attemptCommit(base, Set("c1"), Set("c1_cc"))
    stageRewrite("c1", "c1_d")
    val oD = attemptCommit(base, Set("c1"), Set("c1_d"))
    if (oD == "aborted") spark.sql(
      s"ALTER TABLE $data DROP IF EXISTS PARTITION (commit_id='c1_d')")

    val finalV = latestVersion
    def segRow(entity: String, intent: String, outcome: String,
        commit: String): DataFrame =
      spark.table(data).filter(col("commit_id") === commit)
        .agg(count(lit(1)).as("n_rows"),
          coalesce(dsum(col("o_totalprice")), lit(0.0)).as("sum_price"))
        .select(lit(entity).as("entity"), lit(intent).as("intent"),
          lit(outcome).as("outcome"), col("n_rows"), col("sum_price"))
    val writers = segRow("a", "append", oA, "wa")
      .unionByName(segRow("b", "append", oB, "wb"))
      .unionByName(segRow("c", "rewrite", oC, "c1_cc"))
      .unionByName(segRow("d", "rewrite", oD, "c1_d"))
    val fin = readVersion(spark, data, manifest, finalV)
      .agg(count(lit(1)).as("n_rows"),
        dsum(col("o_totalprice")).as("sum_price"))
      .select(lit("final").as("entity"), lit("read").as("intent"),
        lit(s"v$finalV").as("outcome"), col("n_rows"), col("sum_price"))
    writers.unionByName(fin).orderBy(col("entity"))
  }

  // ------------------------------------------ as-of-timestamp reads

  private[graft] val TsLog = "graft_snap_commitlog_ts"

  /** TIME TRAVEL BY TIMESTAMP — q309 reads versions by NUMBER; the
    * API users actually reach for is `AS OF <timestamp>` ("what did
    * the table say when the model trained?"). The missing piece is a
    * COMMIT LOG: one (version, committed_at) row per publish, and
    * resolution is pure metadata arithmetic — the highest version
    * whose commit time is ≤ the asked instant (deterministic fixture
    * commit times stand in for the writer's wall clock; the rule is
    * the thing). Three probes — one inside each version's validity
    * window — must resolve to the three versions and return exactly
    * q309's per-version aggregates, which is what the oracle pins.
    * An off-by-one in the resolution rule (< vs ≤, wrong max) moves
    * a whole version's content into the wrong row and hash-fails. */
  /** `AS OF` resolution: the highest version committed at or before
    * the instant; None before the table's first commit. ONE
    * definition, used by q325 and boundary-tested by
    * TableFormatSpec. */
  private[graft] def resolveAsOf(spark: SparkSession,
      asOf: String): Option[Int] = {
    val r = spark.table(TsLog)
      .filter(col("committed_at") <= lit(asOf).cast("timestamp"))
      .agg(max(col("version"))).collect().head
    if (r.isNullAt(0)) None else Some(r.getInt(0))
  }

  def q325AsOfTimestamp(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (data, manifest, _) = buildSnapshots(spark, dir, "_ts")
    Scale.dropManaged(spark, TsLog)
    Seq((1, "2000-01-01 00:00:00"), (2, "2000-02-01 00:00:00"),
      (3, "2000-03-01 00:00:00"))
      .toDF("version", "committed_at_s")
      .select(col("version"),
        col("committed_at_s").cast("timestamp").as("committed_at"))
      .write.mode(SaveMode.Overwrite).saveAsTable(TsLog)
    Seq("2000-01-15 12:00:00", "2000-02-15 12:00:00",
      "2000-03-15 12:00:00").map { asOf =>
      val v = resolveAsOf(spark, asOf).get
      readVersion(spark, data, manifest, v)
        .agg(count(lit(1)).as("n_rows"),
          dsum(col("o_totalprice")).as("sum_price"))
        .select(lit(asOf.take(10)).as("as_of"),
          lit(v).as("resolved_version"), col("n_rows"), col("sum_price"))
    }.reduce(_ unionByName _).orderBy(col("as_of"))
  }

  // ------------------------------------ SQL time-travel surface

  private[graft] val SqView = "graft_snap_versions_sq"
  private[graft] val SqLog = "graft_snap_log_sq"
  private[graft] val SqData = "graft_snap_data_sq"
  private[graft] val SqManifest = "graft_snap_manifest_sq"

  /** SQL TIME TRAVEL — the r11 stretch ask: the versioned tier
    * reachable from pure SQL text, no Scala calls, so the EP3-parity
    * SQL surface (ref `README.md:184-199` — the reference's users
    * query through Athena) extends to snapshots. The Spark-first
    * answer is not a parser extension but a VERSION-EXPANDED VIEW:
    *
    *   CREATE VIEW t_versions AS
    *     SELECT m.version, d.* FROM data d JOIN manifest m
    *     ON d.commit_id = m.commit_id
    *
    * `VERSION AS OF n` is then `WHERE version = n`, and `TIMESTAMP
    * AS OF ts` is `WHERE version = (SELECT max(version) FROM log
    * WHERE committed_at <= ts)` — both plain SQL. The part that
    * makes this a real reader and not a demo is the PHYSICS: the
    * manifest side of the join is broadcast-sized, and Catalyst's
    * dynamic partition pruning turns the version predicate into a
    * runtime partition filter on the commit-partitioned data scan —
    * the same pruned read [[readVersion]] produces with its static
    * predicate, now planned BY THE OPTIMIZER from declarative SQL
    * (TableFormatSpec asserts the dynamic filter is present and the
    * partitions-read equals the version's commit count). At 100 TB
    * the view costs nothing (it is a plan fragment), every version
    * read stays commit-pruned, and the one table function a SQL user
    * needs is already in the catalog. */
  def q343SqlTimeTravel(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (data, manifest, _) = buildSnapshots(spark, dir, "_sq")
    Scale.dropManaged(spark, SqLog)
    Seq((1, "2000-01-01 00:00:00"), (2, "2000-02-01 00:00:00"),
      (3, "2000-03-01 00:00:00"))
      .toDF("version", "committed_at_s")
      .select(col("version"),
        col("committed_at_s").cast("timestamp").as("committed_at"))
      .write.mode(SaveMode.Overwrite).saveAsTable(SqLog)
    spark.sql(s"""CREATE OR REPLACE VIEW $SqView AS
      SELECT m.version, d.o_orderkey, d.o_custkey, d.o_totalprice,
        d.o_orderdate
      FROM $data d JOIN $manifest m ON d.commit_id = m.commit_id""")
    // from here on: SQL text only — what a BI tool would send
    val versionReads = spark.sql(s"""
      SELECT CONCAT('version_as_of_', CAST(version AS STRING)) AS read,
        version, COUNT(*) AS n_rows,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
          AS sum_price,
        MIN(o_orderkey) AS min_okey, MAX(o_orderkey) AS max_okey
      FROM $SqView
      WHERE version IN (1, 2, 3)
      GROUP BY version""")
    val tsRead = spark.sql(s"""
      SELECT 'timestamp_as_of_2000-02-15' AS read, version,
        COUNT(*) AS n_rows,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
          AS sum_price,
        MIN(o_orderkey) AS min_okey, MAX(o_orderkey) AS max_okey
      FROM $SqView
      WHERE version = (SELECT MAX(version) FROM $SqLog
                       WHERE committed_at <=
                         TIMESTAMP '2000-02-15 12:00:00')
      GROUP BY version""")
    versionReads.unionByName(tsRead).orderBy(col("read"))
  }

  // ------------------------------------------------ zero-copy clone

  private[graft] val ClData = "graft_snap_data_cl"
  private[graft] val ClManifest = "graft_snap_manifest_cl"
  private[graft] val CloneManifest = "graft_snap_manifest_cl2"

  /** ZERO-COPY (shallow) CLONE — the dev/test move every modern
    * format ships: a clone is a NEW MANIFEST whose version 1 lists
    * the SOURCE's live commit set — no data moves, because segments
    * are immutable and visibility is the manifest's job (the
    * invariant this whole tier runs on, here paying off directly).
    * After cloning, the two tables diverge independently in the
    * shared segment store:
    *
    *  - the clone appends experiment commit `x0` → clone v2; the
    *    source's manifests never list it, so source reads are
    *    untouched;
    *  - the source appends production commit `y0` → source v4; the
    *    clone, pinned to its cloned set + its own writes, never sees
    *    it.
    *
    * The report reads all four (table, version) states from the real
    * manifests — a clone that copied data (diverging hashes), leaked
    * a write across the boundary, or failed to share segments would
    * hash-fail; TableFormatSpec additionally asserts the clone's v1
    * read lists the SAME physical partitions as the source's v3 read
    * (sharing is physical, not a copy that happens to be equal). */
  def q326ShallowClone(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (data, manifest, _) = buildSnapshots(spark, dir, "_cl")
    Scale.dropManaged(spark, CloneManifest)
    val srcV = spark.table(manifest).agg(max(col("version")))
      .collect().head.getInt(0)
    val live = commitsOf(spark, manifest, srcV).toSeq.sorted
    // the clone: one manifest write, zero data IO
    live.map((1, _)).toDF("version", "commit_id")
      .write.mode(SaveMode.Overwrite).saveAsTable(CloneManifest)

    def stage(mod: Int, shift: Long, commit: String): Unit =
      stageCommit(spark, dir, data, mod, shift, "2002-04-01", commit)
    // divergence: the clone experiments, the source keeps producing
    stage(43, 60000000L, "x0")
    (live :+ "x0").sorted.map((2, _)).toDF("version", "commit_id")
      .write.insertInto(CloneManifest)
    stage(47, 70000000L, "y0")
    (live :+ "y0").sorted.map((srcV + 1, _)).toDF("version", "commit_id")
      .write.insertInto(manifest)

    def report(table: String, mf: String, v: Int): DataFrame =
      readVersion(spark, data, mf, v)
        .agg(count(lit(1)).as("n_rows"),
          dsum(col("o_totalprice")).as("sum_price"))
        .select(lit(table).as("tbl"), lit(v).as("version"),
          col("n_rows"), col("sum_price"))
    report("clone", CloneManifest, 1)
      .unionByName(report("clone", CloneManifest, 2))
      .unionByName(report("source", manifest, srcV))
      .unionByName(report("source", manifest, srcV + 1))
      .orderBy(col("tbl"), col("version"))
  }

  // ---------------------------------- incremental view maintenance

  private[graft] val MvData = "graft_snap_data_mv"
  private[graft] val MvManifest = "graft_snap_manifest_mv"
  private[graft] val MvTable = "graft_mv_cust_orders"
  private[graft] val MvBindings = "graft_artifact_bindings_mv"

  /** The signed-delta input of the MV refresh: fresh segments
    * contribute +1 rows, retired segments −1, BOTH named by the
    * manifest diff — one definition shared by production and by
    * TableFormatSpec's partitions-read assertion, so the spec
    * certifies the same churn-only read the refresh runs. Shared
    * segments contribute nothing and are never scanned. */
  private[graft] def mvDeltaInput(spark: SparkSession): DataFrame =
    mvSignedDelta(spark, MvData, MvManifest, 1, 3)

  /** The signed-delta input between ANY two versions of a snapshot
    * table — the generalization q328's streaming consumer folds one
    * commit at a time: fresh segments (+), retired segments (−),
    * both named by the manifest diff; shared segments contribute
    * nothing and are never scanned. `fromV = 0` (no commits) makes
    * the initial MV build just the first refresh. */
  private[graft] def mvSignedDelta(spark: SparkSession, data: String,
      manifest: String, fromV: Int, toV: Int): DataFrame =
    mvSignedDeltaFromSets(spark, data,
      commitsOf(spark, manifest, fromV),
      commitsOf(spark, manifest, toV))

  /** [[mvSignedDelta]] with the two commit sets already resolved —
    * same frame, no manifest lookups; the form a standing consumer
    * uses after batching its lookups through [[commitsOfMany]]. */
  private[graft] def mvSignedDeltaFromSets(spark: SparkSession,
      data: String, from: Set[String], to: Set[String]): DataFrame = {
    val retired = (from -- to).toSeq.sorted
    val fresh = (to -- from).toSeq.sorted
    spark.table(data).filter(col("commit_id").isin(fresh: _*))
      .select(col("o_custkey"), lit(1L).as("s"),
        dec(col("o_totalprice")).as("p"))
      .unionByName(
        spark.table(data).filter(col("commit_id").isin(retired: _*))
          .select(col("o_custkey"), lit(-1L).as("s"),
            (-dec(col("o_totalprice"))).as("p")))
  }

  /** Fold a signed delta into an MV state frame (o_custkey,
    * n_orders, sum_price): deltas aggregate per key (map-side
    * combine, one churn-sized shuffle) and full-outer-join the view
    * on its key; keys whose count falls to zero leave, new keys
    * enter, untouched keys carry through unrecomputed. Counts are
    * longs and sums stay DECIMAL through the +/− arithmetic, so the
    * refreshed view is BIT-EQUAL to a full recompute — ONE
    * definition shared by q324's batch refresh and q328's
    * per-commit streaming refresh. */
  private[graft] def mvApplyDelta(prev: DataFrame,
      deltaInput: DataFrame): DataFrame = {
    val delta = deltaInput.groupBy(col("o_custkey"))
      .agg(sum(col("s")).as("dn"), sum(col("p")).as("dp"))
    prev.join(delta, Seq("o_custkey"), "full_outer")
      .select(col("o_custkey"),
        (coalesce(col("n_orders"), lit(0L)) +
          coalesce(col("dn"), lit(0L))).as("n_orders"),
        (coalesce(col("sum_price"), lit(0).cast("decimal(28,2)")) +
          coalesce(col("dp"), lit(0).cast("decimal(28,2)")))
          .cast("decimal(28,2)").as("sum_price"))
      .filter(col("n_orders") > 0)
  }

  /** INCREMENTAL MATERIALIZED-VIEW MAINTENANCE from the changelog —
    * what the q312 diff is FOR: a standing per-customer aggregate
    * (the MV every BI layer keeps over the orders table) is built
    * once at v1 and then REFRESHED to v3 by folding signed deltas
    * from only the churn segments:
    *
    *  - delta plan: fresh segments (+) and retired segments (−) come
    *    from the v1→v3 manifest diff — metadata arithmetic; the
    *    shared segment (c1, the majority of a real table) is NEVER
    *    scanned, spec-asserted through the one shared
    *    [[mvDeltaInput]] definition.
    *  - merge: deltas aggregate per key (map-side combine, one
    *    shuffle of churn-sized data) and full-outer-join the MV on
    *    its key; keys whose count falls to zero leave the view, new
    *    keys enter, untouched keys carry through unrecomputed.
    *  - exactness: counts are longs, sums stay DECIMAL through the
    *    +/− arithmetic (associative, order-independent), cast to
    *    double only at the output — so the refreshed MV is
    *    BIT-EQUAL to the full v3 recompute, which is exactly what
    *    the oracle checks. A dropped delta, a double-applied
    *    segment, or a key leak hash-fails.
    *
    * At 100 TB this is the nightly MV job: cost follows the day's
    * churn, not the view or the table — the same O(churn) contract
    * as q320's dedup, now for aggregation state. */
  def q324IncrementalMvRefresh(spark: SparkSession, dir: String): DataFrame = {
    val (data, manifest, _) = buildSnapshots(spark, dir, "_mv")
    Scale.dropManaged(spark, MvTable)
    initBindings(spark, MvBindings)
    readVersion(spark, data, manifest, 1)
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"),
        sum(dec(col("o_totalprice"))).as("sum_price"))
      .write.mode(SaveMode.Overwrite).saveAsTable(MvTable)
    bindArtifact(spark, MvBindings, MvTable, manifest, 1)

    val refreshed =
      mvApplyDelta(spark.table(MvTable), mvDeltaInput(spark))
        .localCheckpoint()
    refreshed.write.mode(SaveMode.Overwrite).saveAsTable(MvTable)
    // version-binding stamp (q333's contract): the MV now reflects
    // v3; the serving gate must agree before the state is readable
    bindArtifact(spark, MvBindings, MvTable, manifest, 3)
    requireFresh(spark, MvBindings, MvTable)
    spark.table(MvTable)
      .select(col("o_custkey"), col("n_orders"),
        col("sum_price").cast("double").as("sum_price"))
      .orderBy(col("o_custkey"))
  }

  // ------------------------------------------------------ ref log

  /** Append-only REF LOG — the (ref → version) layer shared by the
    * WAP branches (q323) and the branch-aware vacuum (q330). A ref's
    * live value is its HIGHEST-seq row; an update appends a live row,
    * a drop appends a tombstone (`live = false`) — nothing is ever
    * rewritten in place, so the refs table keeps the tier's
    * append-only metadata discipline (the r10 review finding:
    * setRef/dropRef as whole-table rewrites were O(history)
    * read-modify-writes, safe only under the single-writer
    * convention; appends compose with it the same way the manifest's
    * version appends do). The log is metadata-sized by construction
    * (one row per ref UPDATE, never per data row); the sanctioned
    * compaction point is snapshot expiry, exactly as for the
    * manifest itself. */
  private[graft] def initRefs(spark: SparkSession, refsT: String,
      refs: Seq[(String, Int)]): Unit = {
    import spark.implicits._
    Scale.dropManaged(spark, refsT)
    refs.zipWithIndex.map { case ((r, v), i) => (r, v, true, i + 1) }
      .toDF("ref", "version", "live", "seq")
      .write.partitionBy("seq")
      .mode(SaveMode.Overwrite).saveAsTable(refsT)
  }

  /** Highest-seq row per key of an append-only log whose first
    * selected column is `seq` and second the key — FAILS LOUDLY if
    * two rows share a key's max seq (a duplicated append): the r10
    * review's ask — an invariant violation must surface like the
    * stream-ingest monotone-delivery check does, not be masked by a
    * max() lookup. ONE definition for both logs of this tier (the
    * ref log and q333's binding log). */
  private def latestBySeq[V](rows: Array[org.apache.spark.sql.Row],
      what: String)(value: org.apache.spark.sql.Row => V)
      : Map[String, V] =
    rows.groupBy(_.getString(1)).map { case (k, rs) =>
      val mx = rs.map(_.getInt(0)).max
      val at = rs.filter(_.getInt(0) == mx)
      require(at.length == 1,
        s"$what log corrupt: ${at.length} rows at seq $mx for '$k'")
      k -> value(at.head)
    }

  /** Latest log row per ref — (version, live) at the highest seq. */
  private def refLogLatest(spark: SparkSession,
      refsT: String): Map[String, (Int, Boolean)] =
    latestBySeq(spark.table(refsT)
      .select(col("seq"), col("ref"), col("version"), col("live"))
      .collect(), "ref")(r => (r.getInt(2), r.getBoolean(3)))

  /** Next append seq of a (ref or binding) log table. */
  private def nextSeq(spark: SparkSession, logT: String): Int =
    spark.table(logT).agg(coalesce(max(col("seq")), lit(0)))
      .collect().head.getInt(0) + 1

  /** Append one row to a seq-keyed log with RECOVERY, not just
    * detection (the r12 verdict's ask — r11's post-append count check
    * detected a raced duplicate but left the log permanently corrupt,
    * with the loser's row already committed and no repair path). The
    * log is partitioned by `seq` and the append is a metastore CAS:
    *
    *   1. capture a fresh head seq;
    *   2. stage the row's data file OUTSIDE the table (invisible);
    *   3. publish by registering partition `seq=<s>` at the staged
    *      location — partition creation is atomic in the catalog and
    *      FAILS if the partition exists, so of two racers exactly one
    *      wins the seq and the loser commits NOTHING;
    *   4. the loser deletes its staging, re-reads the head, and
    *      retries at the next seq — both intents land, seq stays
    *      dense, no duplicate ever reaches the log.
    *
    * This is the q321 capture-then-CAS discipline one level down, with
    * the catalog's partition-exists check as the compare half (the
    * same primitive Iceberg's HiveCatalog CAS builds on). The
    * `interleave` hook exists so TableFormatSpec can inject a
    * competing append between capture and publish — the race window —
    * and assert both writers land. Reader-side [[latestBySeq]] keeps
    * its loud duplicate check as defense in depth. */
  private[graft] def appendLogCas(spark: SparkSession, logT: String,
      mkRow: Int => DataFrame,
      interleave: Int => Unit = _ => ()): Int = {
    val maxAttempts = 8
    var attempt = 0
    while (true) {
      val s = nextSeq(spark, logT)
      // stage INSIDE the table's own warehouse directory: a partition
      // registered at a Scratch location would be wiped by the bench
      // clean-room while still registered (r13 review); under the
      // table dir it lives and dies with the table (dropManaged)
      val warehouse = new java.net.URI(
        spark.conf.get("spark.sql.warehouse.dir")).getPath
      val tag = java.util.UUID.randomUUID.toString.take(8)
      val staging = s"$warehouse/$logT/_cas_s${s}_$tag"
      mkRow(s).drop("seq").write.mode(SaveMode.Overwrite).parquet(staging)
      interleave(s)
      try {
        spark.sql(s"ALTER TABLE $logT ADD PARTITION (seq=$s) " +
          s"LOCATION '$staging'")
        return s
      } catch {
        case _: org.apache.spark.sql.catalyst.analysis
            .PartitionsAlreadyExistException =>
          // lost the seq — nothing of ours is visible; clean up and
          // rebase on the new head
          graft.Scratch.deleteRecursively(
            java.nio.file.Paths.get(staging))
          attempt += 1
          require(attempt < maxAttempts,
            s"log '$logT' append lost $maxAttempts straight CAS races")
      }
    }
    -1 // unreachable
  }

  private[graft] def setRef(spark: SparkSession, refsT: String,
      ref: String, v: Int, interleave: Int => Unit = _ => ()): Unit = {
    import spark.implicits._
    appendLogCas(spark, refsT,
      s => Seq((ref, v, true, s)).toDF("ref", "version", "live", "seq"),
      interleave)
  }

  private[graft] def dropRef(spark: SparkSession, refsT: String,
      ref: String): Unit = {
    import spark.implicits._
    appendLogCas(spark, refsT,
      s => Seq((ref, 0, false, s)).toDF("ref", "version", "live", "seq"))
  }

  private[graft] def refVersion(spark: SparkSession, refsT: String,
      ref: String): Option[Int] =
    refLogLatest(spark, refsT).get(ref).collect { case (v, true) => v }

  private[graft] def liveRefVersions(spark: SparkSession,
      refsT: String): Map[String, Int] =
    refLogLatest(spark, refsT).collect { case (r, (v, true)) => r -> v }

  // ------------------------------------------- write-audit-publish

  private[graft] val WapData = "graft_snap_data_wap"
  private[graft] val WapManifest = "graft_snap_manifest_wap"
  private[graft] val WapRefs = "graft_snap_refs_wap"

  /** WRITE-AUDIT-PUBLISH — the branch/ref layer that turns the
    * version history into a safe ingestion contract (Iceberg's WAP /
    * Delta's staged commits): a NAMED REF is just a (ref → version)
    * row, `main` is the one readers follow, and an ingest batch
    * lands on an AUDIT branch first — a real manifest version,
    * readable through the normal pruned path, but invisible to
    * `main` until an audit query passes:
    *
    *  - batch w1 stages on branch `audit_w1` (version 4 = v3 + w1);
    *    the audit (null keys, non-positive prices — counted from the
    *    REAL branch read) finds zero violations → PUBLISH is a
    *    fast-forward of the `main` ref row to version 4: pure
    *    metadata, nothing moves.
    *  - batch w2 arrives CORRUPT (an upstream sign flip on every
    *    third row); it stages on `audit_w2` (version 5 = v4 + w2),
    *    the same audit counts the violations → REJECT: `main` never
    *    moves and the branch ref gets a tombstone. The rejected
    *    snapshot stays in history until the post-run ORPHAN EXPIRY
    *    (the Iceberg rule — a reject is a ref decision, not a
    *    history edit; r10's immediate manifest expunge was an
    *    in-place rewrite mid-protocol), and the expiry's vacuum then
    *    reclaims the staged segment (the q310 move on a segment no
    *    surviving version references). Readers of `main` never saw a
    *    corrupt row at ANY point — the guarantee this pattern exists
    *    for, and TableFormatSpec asserts it (main == v4 content
    *    after the whole run, no w2 partition on disk after expiry,
    *    no surviving audit refs).
    *
    * All ref movement goes through the append-only REF LOG above —
    * publish and reject are both one appended row, never a rewrite;
    * the only manifest rewrite is the end-of-run expiry, the
    * sanctioned compaction point.
    *
    * The report is falsifiable end to end: per-batch `n_rows` and
    * `n_violations` are counted from the real branch reads, the
    * `final_main` row from the real post-run `main` read — a publish
    * of the corrupt batch, a lost clean batch, or an audit that
    * under-counts hash-fails against the oracle's predicate
    * arithmetic. */
  def q323WriteAuditPublish(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (data, manifest, _) = buildSnapshots(spark, dir, "_wap")
    val base = spark.table(manifest).agg(max(col("version")))
      .collect().head.getInt(0)
    initRefs(spark, WapRefs, Seq(("main", base)))

    /** Stage one ingest batch on an audit branch, audit it from the
      * BRANCH read, publish or reject. Returns the report row. */
    def wapBatch(mod: Int, shift: Long, commit: String,
        corrupt: Boolean): DataFrame = {
      val price: Column => Column =
        if (corrupt) p => when(col("o_orderkey") % 3 === 0, -p).otherwise(p)
        else identity
      stageCommit(spark, dir, data, mod, shift, "2002-03-01", commit,
        price)
      val mainV = refVersion(spark, WapRefs, "main").get
      val branch = s"audit_$commit"
      val branchV = stageManifestVersion(spark, manifest, commit,
        Some(mainV))
      setRef(spark, WapRefs, branch, branchV)
      // the audit reads the BRANCH through the normal pruned path,
      // restricted to the staged segment (the delta an auditor
      // actually checks) — violations counted from real rows
      val audit = readVersion(spark, data, manifest,
          refVersion(spark, WapRefs, branch).get)
        .filter(col("commit_id") === commit)
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("o_orderkey").isNull ||
            col("o_totalprice") <= 0, 1L).otherwise(0L))
            .as("n_violations"))
        .collect().head
      val (nRows, nViol) = (audit.getLong(0), audit.getLong(1))
      // publish and reject are the same ref-log shape: publish
      // fast-forwards main (one appended row), reject appends
      // nothing to main; either way the audit branch tombstones
      val action = if (nViol == 0) {
        setRef(spark, WapRefs, "main", branchV); "published"
      } else "rejected"
      dropRef(spark, WapRefs, branch)
      Seq((commit, nRows, nViol, action))
        .toDF("entity", "n_rows", "n_violations", "action")
    }

    val r1 = wapBatch(31, 40000000L, "w1", corrupt = false)
    val r2 = wapBatch(37, 50000000L, "w2", corrupt = true)
    wapExpireOrphans(spark, data, manifest, WapRefs)
    val mainV = refVersion(spark, WapRefs, "main").get
    val finalMain = readVersion(spark, data, manifest, mainV)
      .agg(count(lit(1)).as("n_rows"))
      .select(lit("final_main").as("entity"), col("n_rows"),
        lit(0L).as("n_violations"),
        lit(s"v$mainV").as("action"))
    r1.unionByName(r2).unionByName(finalMain).orderBy(col("entity"))
  }

  /** ORPHAN EXPIRY + VACUUM — q323's end-of-run maintenance pass: a
    * rejected snapshot is a version some ref ONCE pointed to that no
    * surviving lineage includes. Reachability comes from the REF
    * LOG, not a version ceiling: expunged = (versions in the log)
    * ∖ (main's full fast-forward lineage ∪ live refs' versions) —
    * the r11 review's fix, since a `<= max(live)` cut would RETAIN a
    * rejected snapshot whenever a reject precedes a later publish
    * (the later publish raises the ceiling above the orphan; spec-
    * asserted on exactly that ordering). Pre-ref history (versions
    * the log never mentions) stays for time travel — retiring THAT
    * is q310's retention job. Expiry expunges the orphan manifest
    * rows (the one sanctioned rewrite) and the vacuum reclaims
    * segments no surviving version references (the corrupt staged
    * partition). */
  private[graft] def wapExpireOrphans(spark: SparkSession,
      data: String, manifest: String, refsT: String): Unit = {
    // set-events only (live = true): a tombstone's version field is
    // a drop marker, not a pointer into the manifest
    val log = spark.table(refsT).filter(col("live"))
      .select(col("ref"), col("version")).collect()
    val logVersions = log.map(_.getInt(1)).toSet
    val mainLineage =
      log.filter(_.getString(0) == "main").map(_.getInt(1)).toSet
    val liveV = liveRefVersions(spark, refsT).values.toSet
    val expunged = (logVersions -- mainLineage -- liveV).toSeq.sorted
    if (expunged.nonEmpty)
      expireVersions(spark, manifest,
        !col("version").isin(expunged: _*))
    vacuumData(spark, data, manifest)
  }

  // ------------------------------------------ branch-aware vacuum

  private[graft] val BvData = "graft_snap_data_bv"
  private[graft] val BvManifest = "graft_snap_manifest_bv"
  private[graft] val BvSegstats = "graft_snap_segstats_bv"
  private[graft] val BvRefs = "graft_snap_refs_bv"

  /** Retire manifest rows failing `keep` — the one sanctioned
    * metadata rewrite (q310's). `keep` is the retention POLICY; the
    * tier's expiry passes differ ONLY there: q323 keeps ref-log-
    * reachable versions, q329 the single compacted version, q330
    * live-ref versions. */
  private def expireVersions(spark: SparkSession, manifest: String,
      keep: Column): Unit = {
    val kept = spark.table(manifest).filter(keep).localCheckpoint()
    kept.write.mode(SaveMode.Overwrite).saveAsTable(manifest)
  }

  /** Drop partitions of `table` whose `keyCol` value is not in
    * `referenced` — the physical half of every expiry pass. */
  private def vacuumUnreferenced(spark: SparkSession, table: String,
      keyCol: String, referenced: Set[String]): Unit = {
    val onDisk = spark.sql(s"SHOW PARTITIONS $table")
      .collect().map(_.getString(0).stripPrefix(s"$keyCol=")).toSet
    val drop = (onDisk -- referenced).toSeq.sorted
    // ONE batched DROP statement (r15 opt) — the per-partition form
    // paid a full driver round-trip per reclaimed segment
    if (drop.nonEmpty)
      spark.sql(s"ALTER TABLE $table DROP IF EXISTS " +
        drop.map(p => s"PARTITION ($keyCol='$p')").mkString(", "))
  }

  /** Reclaim data segments no surviving manifest version lists. */
  private def vacuumData(spark: SparkSession, data: String,
      manifest: String): Unit =
    vacuumUnreferenced(spark, data, "commit_id",
      spark.table(manifest).select(col("commit_id"))
        .distinct().collect().map(_.getString(0)).toSet)

  /** Ref-aware snapshot expiry + vacuum, on the named table: retire
    * manifest versions no live ref references, then reclaim segments
    * no SURVIVING version lists — q310's two-phase with the ref log
    * as the reachability root set. ONE definition used by both of
    * q330's phases, so "the branch pins it" and "the branch dropped"
    * run the identical maintenance code path. */
  private def expireAndVacuum(spark: SparkSession, data: String,
      manifest: String, refsT: String): Unit = {
    val live = liveRefVersions(spark, refsT).values.toSet.toSeq.sorted
    expireVersions(spark, manifest, col("version").isin(live: _*))
    vacuumData(spark, data, manifest)
  }

  /** BRANCH-AWARE VACUUM — the composition the r10 verdict named:
    * q310's reachability must honor q323's refs, or expiry under a
    * live audit/experiment branch silently deletes segments the
    * branch still reads. One table instance carries both hazards at
    * once: `main` → v3 and a long-lived audit branch `hold` → v2
    * (pinning segment c0, which v3's retention rewrite replaced with
    * c0_rw — c0 is reachable ONLY through the branch).
    *
    *  - phase 1 (branch live): expiry retires v1 (no ref reaches it)
    *    but KEEPS v2 — the branch pins it — and the vacuum reclaims
    *    nothing: every on-disk segment is listed by a surviving
    *    version. A ref-blind vacuum (q310's rule verbatim) would
    *    have dropped c0 here and broken every branch read — the
    *    failure this query exists to demonstrate cannot happen.
    *  - phase 2 (branch dropped): the ref tombstones (one appended
    *    row), the SAME maintenance pass runs again, v2 expires, and
    *    c0 — now truly unreachable — reclaims.
    *
    * Reachability is metadata arithmetic end to end (ref log →
    * versions → commit sets); the report is falsifiable the q310
    * way: `n_rows` per segment comes from the pre-vacuum ledger,
    * `n_rows_after` is COUNTED from the post-pass table at each
    * phase, and status comes from the manifest/ref arithmetic — a
    * vacuum that drops a branch-pinned segment zeroes phase 1's c0
    * row and hash-fails. */
  def q330BranchAwareVacuum(spark: SparkSession, dir: String): DataFrame = {
    val (data, manifest, segstats) = buildSnapshots(spark, dir, "_bv")
    initRefs(spark, BvRefs, Seq(("main", 3), ("hold", 2)))
    val ledger = spark.table(segstats)
      .select(col("commit_id"), col("n_rows")).localCheckpoint()

    def phaseReport(phase: String): DataFrame = {
      val refs = liveRefVersions(spark, BvRefs)
      val mainSet = commitsOf(spark, manifest, refs("main"))
      val branchOnly = refs.view.filterKeys(_ != "main").values
        .flatMap(v => commitsOf(spark, manifest, v)).toSet -- mainSet
      val after = spark.table(data).groupBy(col("commit_id"))
        .agg(count(lit(1)).as("n_rows_after"))
      ledger.join(after, Seq("commit_id"), "left")
        .select(lit(phase).as("phase"), col("commit_id"), col("n_rows"),
          when(col("commit_id").isin(mainSet.toSeq: _*), "retained")
            .when(col("commit_id").isin(branchOnly.toSeq: _*),
              "retained_by_branch")
            .otherwise("reclaimed").as("status"),
          coalesce(col("n_rows_after"), lit(0L)).as("n_rows_after"))
    }

    expireAndVacuum(spark, data, manifest, BvRefs)
    val p1 = phaseReport("p1_branch_live")
      .localCheckpoint() // pin phase-1 physics before phase 2 mutates
    dropRef(spark, BvRefs, "hold")
    expireAndVacuum(spark, data, manifest, BvRefs)
    val p2 = phaseReport("p2_branch_dropped")
    p1.unionByName(p2).orderBy(col("phase"), col("commit_id"))
  }

  // ----------------------------------------------- schema evolution

  private[graft] val SeManifest = "graft_snap_manifest_se"
  private[graft] val SeFields = "graft_snap_fields_se"
  private[graft] val SeSchema = "graft_snap_schema_se"
  private[graft] def seZone: String = graft.Scratch.dir("q319_schema_evo")

  /** Read one version of the schema-evolving table: commits from the
    * manifest, the version's LOGICAL schema (field_id → name, type)
    * from the schema ledger, each commit's PHYSICAL mapping
    * (field_id → column name actually in its files) from the field
    * ledger. Every commit's files are read with their own schema and
    * projected onto the version's logical one BY FIELD ID — a field
    * the commit predates resolves to NULL, a renamed field resolves
    * through whatever physical name the commit's files carry. Names
    * are display strings; field ids are identity — the Iceberg rule
    * that makes rename metadata-only and add backward-compatible. */
  private[graft] def readVersionSe(spark: SparkSession,
      version: Int): DataFrame = {
    val commits = commitsOf(spark, SeManifest, version).toSeq.sorted
    val logical = spark.table(SeSchema)
      .filter(col("version") === version)
      .select(col("field_id"), col("logical_name"), col("field_type"))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2)))
      .sortBy(_._1)
    val phys = spark.table(SeFields)
      .collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2)))
      .groupBy(_._1)
      .map { case (c, rs) => c -> rs.map(t => t._2 -> t._3).toMap }
    commits.map { c =>
      val m = phys(c)
      spark.read.parquet(s"$seZone/$c")
        .select(logical.map { case (fid, lname, ltype) =>
          m.get(fid).map(p => col(p).cast(ltype).as(lname))
            .getOrElse(lit(null).cast(ltype).as(lname))
        } :+ lit(c).as("commit_id"): _*)
    }.reduce(_ unionByName _)
  }

  /** SCHEMA EVOLUTION in the versioned table — the snapshot tier so
    * far pins one schema for all history; a real table's schema
    * evolves mid-history and old files are never rewritten for it.
    * Three schema generations, tracked per commit in a field ledger:
    *
    *  - v1: commit c0 (the young table) — two fields
    *    {1: o_orderkey, 2: o_totalprice}.
    *  - v2: commit c1 arrives with field 3 ADDED as `o_custkey`;
    *    c0's files predate it and resolve field 3 to NULL.
    *  - v3: field 3 RENAMED to `cust_id` — a METADATA-ONLY commit:
    *    same commit set as v2, zero files written, and c1's files
    *    keep their `o_custkey` physical column, reached through the
    *    field-id mapping (TableFormatSpec asserts the v2 and v3
    *    reads carry identical values under the two names, and that
    *    no data moved).
    *  - v4: commit c2 writes field 3 under the NEW physical name —
    *    a cross-generation read now resolves three different
    *    physical layouts onto one logical schema.
    *
    * The report reads v4 and aggregates per commit, so the hash
    * covers exactly the resolution rules: c0's NULL-fill
    * (`n_cust_null` = its row count), c1's rename-mapped values
    * (`sum_cust` over the OLD physical column), c2's native ones.
    * At 100 TB this is the difference between `ALTER TABLE` as a
    * catalog write and a full-table rewrite — the same
    * stats-not-paths indifference q316 shows for partition grain,
    * applied to columns. */
  def q319SchemaEvolution(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Seq(SeManifest, SeFields, SeSchema).foreach(Scale.dropManaged(spark, _))
    graft.Scratch.deleteRecursively(java.nio.file.Paths.get(seZone))
    val orders = Tables.orders(spark, dir)
    def ts(s: String) = lit(s).cast("timestamp")
    // three physical generations, written with their own schemas
    orders.filter(col("o_orderdate") < ts(C0End))
      .select(col("o_orderkey"), col("o_totalprice"))
      .write.parquet(s"$seZone/c0")
    orders.filter(col("o_orderdate") >= ts(C0End) &&
        col("o_orderdate") < ts(C1End))
      .select(col("o_orderkey"), col("o_totalprice"), col("o_custkey"))
      .write.parquet(s"$seZone/c1")
    orders.filter(col("o_orderdate") >= ts(C1End))
      .select(col("o_orderkey"), col("o_totalprice"),
        col("o_custkey").as("cust_id"))
      .write.parquet(s"$seZone/c2")
    // ledgers: per-commit physical mapping, per-version logical schema
    Seq(("c0", 1, "o_orderkey"), ("c0", 2, "o_totalprice"),
      ("c1", 1, "o_orderkey"), ("c1", 2, "o_totalprice"),
      ("c1", 3, "o_custkey"),
      ("c2", 1, "o_orderkey"), ("c2", 2, "o_totalprice"),
      ("c2", 3, "cust_id"))
      .toDF("commit_id", "field_id", "phys_name")
      .write.mode(SaveMode.Overwrite).saveAsTable(SeFields)
    val base = Seq((1, "o_orderkey", "bigint"), (2, "o_totalprice", "double"))
    val gens = Seq(
      1 -> base,
      2 -> (base :+ ((3, "o_custkey", "bigint"))),
      3 -> (base :+ ((3, "cust_id", "bigint"))),
      4 -> (base :+ ((3, "cust_id", "bigint"))))
    gens.flatMap { case (v, fs) =>
      fs.map { case (fid, n, t) => (v, fid, n, t) }
    }.toDF("version", "field_id", "logical_name", "field_type")
      .write.mode(SaveMode.Overwrite).saveAsTable(SeSchema)
    Seq((1, "c0"), (2, "c0"), (2, "c1"), (3, "c0"), (3, "c1"),
      (4, "c0"), (4, "c1"), (4, "c2"))
      .toDF("version", "commit_id")
      .write.mode(SaveMode.Overwrite).saveAsTable(SeManifest)

    readVersionSe(spark, 4)
      .groupBy(col("commit_id"))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("cust_id").isNull, 1L).otherwise(0L))
          .as("n_cust_null"),
        coalesce(sum(col("cust_id")), lit(0L)).as("sum_cust"),
        dsum(col("o_totalprice")).as("sum_price"))
      .orderBy(col("commit_id"))
  }

  /** Incremental changelog v1 → v3, manifest-planned: segments in
    * BOTH manifests carry identical rows by immutability and are
    * never read (TableFormatSpec asserts c1's partition stays
    * untouched); only retired ∖ fresh segments load into a keyed
    * full-outer diff — fresh-only keys are '+' (the v2 append),
    * retired-only keys are '-' (the retention victims), keys present
    * on both sides are rewrite survivors and emit nothing. Contrast
    * with the full-snapshot content diff in [[Egress]]: same answer,
    * but this plan's cost is the CHURN, not the table. */
  def q312IncrementalDiff(spark: SparkSession, dir: String): DataFrame = {
    val (data, manifest, _) = buildSnapshots(spark, dir, "_diff")
    val (from, to) = (commitsOf(spark, manifest, 1),
      commitsOf(spark, manifest, 3))
    val retired = (from -- to).toSeq
    val fresh = (to -- from).toSeq
    def slice(cs: Seq[String]): DataFrame =
      spark.table(data).filter(col("commit_id").isin(cs: _*))
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    slice(fresh).as("f")
      .join(slice(retired).as("r"),
        col("f.o_orderkey") === col("r.o_orderkey"), "full_outer")
      .filter(col("f.o_orderkey").isNull || col("r.o_orderkey").isNull)
      .select(
        when(col("r.o_orderkey").isNull, "+").otherwise("-").as("op"),
        coalesce(col("f.o_orderkey"), col("r.o_orderkey"))
          .as("o_orderkey"),
        coalesce(col("f.o_custkey"), col("r.o_custkey")).as("o_custkey"),
        coalesce(col("f.o_totalprice"), col("r.o_totalprice"))
          .as("o_totalprice"))
      .orderBy(col("op"), col("o_orderkey"))
  }

  // ------------------ derived-artifact version binding (q333)

  private[graft] val VbBindings = "graft_artifact_bindings_vb"
  private[graft] val VbMv = "graft_mv_cust_orders_vb"
  private[graft] val VbStats = "graft_segstats_art_vb"

  /** Append-only BINDING LOG for derived artifacts — the consistency
    * layer that makes changelog-maintained serving artifacts (the
    * q324 MV, q327's IVF index, q320's shingle/band tables) SAFE to
    * serve when maintenance lags ingest: every build or refresh of a
    * derived artifact appends (artifact, manifest_table,
    * bound_version) — the exact source-table version the artifact's
    * state now reflects. The log is metadata-sized (one row per
    * REFRESH, never per data row), append-only like the ref log, and
    * its latest-row lookup fails loudly on a duplicated seq. Without
    * this stamp an incremental artifact is a cache with no validity
    * token: a reader cannot tell "refreshed through yesterday's
    * commit" from "current", and a maintenance job cannot know which
    * changelog window to fold next without re-deriving it from
    * content. The reference serves its curated table with no such
    * contract because its pipeline is single-writer single-version
    * (ref `dags/etl_csv_to_dwh.py:36` — one run, one output); a
    * versioned 100 TB table needs the token. */
  private[graft] def initBindings(spark: SparkSession,
      bindingsT: String): Unit = {
    import spark.implicits._
    Scale.dropManaged(spark, bindingsT)
    spark.emptyDataset[(String, String, Int, Int)]
      .toDF("artifact", "manifest_table", "bound_version", "seq")
      .write.partitionBy("seq")
      .mode(SaveMode.Overwrite).saveAsTable(bindingsT)
  }

  private[graft] def bindArtifact(spark: SparkSession, bindingsT: String,
      artifact: String, manifestT: String, version: Int): Unit = {
    import spark.implicits._
    appendLogCas(spark, bindingsT,
      s => Seq((artifact, manifestT, version, s))
        .toDF("artifact", "manifest_table", "bound_version", "seq"))
  }

  /** Latest binding per artifact — (manifest_table, bound_version)
    * at the highest seq; loud on a duplicated seq (shared
    * [[latestBySeq]] discipline). */
  private[graft] def latestBindings(spark: SparkSession,
      bindingsT: String): Map[String, (String, Int)] =
    latestBySeq(spark.table(bindingsT)
      .select(col("seq"), col("artifact"), col("manifest_table"),
        col("bound_version")).collect(),
      "binding")(r => (r.getString(2), r.getInt(3)))

  private[graft] case class ArtifactCert(artifact: String,
      boundVersion: Int, headVersion: Int, nFresh: Long,
      nRetired: Long) {
    def isFresh: Boolean = nFresh == 0 && nRetired == 0
  }

  /** STALENESS CERTIFICATE: each artifact's latest binding joined
    * against its source manifest's head — freshness is COMMIT-SET
    * equality between the bound and head versions, not version-number
    * equality, so a metadata-only version bump (q319's rename, a ref
    * move) does NOT spuriously invalidate an artifact, while any
    * version that added or retired a data segment does. Pure
    * metadata arithmetic: two manifest lookups per artifact, the
    * data is never touched. */
  private[graft] def certifyArtifacts(spark: SparkSession,
      bindingsT: String): Seq[ArtifactCert] =
    latestBindings(spark, bindingsT).toSeq.sortBy(_._1).map {
      case (a, (manifestT, bound)) =>
        val head = headVersion(spark, manifestT)
        val (b, h) = (commitsOf(spark, manifestT, bound),
          commitsOf(spark, manifestT, head))
        ArtifactCert(a, bound, head, (h -- b).size.toLong,
          (b -- h).size.toLong)
    }

  /** The SERVING GATE: throws if the artifact's certificate is stale
    * (or missing) — the one-line guard a query layer puts in front
    * of any read that substitutes a derived artifact for its source
    * table. TableFormatSpec asserts both directions: a stale MV
    * refuses to serve, the refreshed one passes. */
  private[graft] def requireFresh(spark: SparkSession,
      bindingsT: String, artifact: String): Unit = {
    val cert = certifyArtifacts(spark, bindingsT)
      .find(_.artifact == artifact)
      .getOrElse(throw new IllegalStateException(
        s"no binding recorded for artifact '$artifact'"))
    if (!cert.isFresh)
      throw new IllegalStateException(s"artifact '$artifact' is " +
        s"STALE: bound v${cert.boundVersion}, head " +
        s"v${cert.headVersion} (+${cert.nFresh} fresh / " +
        s"-${cert.nRetired} retired commits); refresh before serving")
  }

  /** DERIVED-ARTIFACT VERSION BINDING end-to-end — the lifecycle the
    * binding log exists for, on the standard snapshot fixture
    * (v2 = full table, v3 = after the retention rewrite):
    *
    *  - two artifacts with different maintenance cadences: the
    *    customer MV was last refreshed when v2 was head (maintenance
    *    lags ingest — the normal state of a nightly job), the
    *    per-segment stats index was built at today's head v3.
    *  - phase p1: the certificate flags the MV stale with the exact
    *    lag (+1 fresh / −1 retired commit — the v2→v3 rewrite), the
    *    stats index fresh; the serving gate REFUSES the stale MV
    *    (asserted in-query: serving it would silently include the
    *    retention victims — and the p1 checksum row proves exactly
    *    that, it still sums the full-table prices).
    *  - refresh: the MV folds the v2→v3 signed delta (the shared
    *    q324 arithmetic — O(churn), bit-equal to recompute), rebinds
    *    at v3; the gate now passes.
    *  - phase p2: both certificates fresh; the MV's n_keys/checksum
    *    now equal the v3 recompute, which is what the oracle checks.
    *
    * At 100 TB the certificate is two metadata lookups per artifact
    * per serve — the cost of NOT having it is wrong answers with no
    * failure, the one outcome a lagging maintenance job must never
    * produce. */
  def q333ArtifactVersionBinding(spark: SparkSession,
      dir: String): DataFrame = {
    import spark.implicits._
    val (data, manifest, _) = buildSnapshots(spark, dir, "_vb")
    Seq(VbMv, VbStats).foreach(Scale.dropManaged(spark, _))
    initBindings(spark, VbBindings)

    // the customer MV, last refreshed when v2 was head
    readVersion(spark, data, manifest, 2)
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"),
        sum(dec(col("o_totalprice"))).as("sum_price"))
      .write.mode(SaveMode.Overwrite).saveAsTable(VbMv)
    bindArtifact(spark, VbBindings, VbMv, manifest, 2)

    // the per-segment stats index, built at today's head v3
    readVersion(spark, data, manifest, 3)
      .groupBy(col("commit_id"))
      .agg(count(lit(1)).as("n_rows"))
      .write.mode(SaveMode.Overwrite).saveAsTable(VbStats)
    bindArtifact(spark, VbBindings, VbStats, manifest, 3)

    val label = Map(VbMv -> "customer_mv", VbStats -> "segstats")
    // certificate + artifact-state proof, captured EAGERLY per phase
    // (the MV is overwritten between phases; a lazy plan would
    // re-read post-refresh state under the p1 label)
    def phaseRows(phase: String): Seq[(String, String, Int, Int,
        Long, Long, Boolean, Long, Double)] =
      certifyArtifacts(spark, VbBindings).map { c =>
        val proof =
          if (c.artifact == VbMv)
            spark.table(VbMv).agg(count(lit(1)).as("n"),
              sum(col("sum_price")).cast("double").as("s"))
          else
            spark.table(VbStats).agg(count(lit(1)).as("n"),
              sum(col("n_rows")).cast("double").as("s"))
        val r = proof.collect().head
        (phase, label(c.artifact), c.boundVersion, c.headVersion,
          c.nFresh, c.nRetired, c.isFresh, r.getLong(0), r.getDouble(1))
      }

    val p1 = phaseRows("p1_stale")
    // the gate fires on the stale MV — serving it would be the
    // silent-wrong-answer failure this tier exists to prevent
    val gateBlocked =
      try { requireFresh(spark, VbBindings, VbMv); false }
      catch { case _: IllegalStateException => true }
    require(gateBlocked, "serving gate failed to block a stale MV")

    // refresh from the changelog (shared q324 arithmetic) + rebind
    val refreshed = mvApplyDelta(spark.table(VbMv),
      mvSignedDelta(spark, data, manifest, 2, 3)).localCheckpoint()
    refreshed.write.mode(SaveMode.Overwrite).saveAsTable(VbMv)
    bindArtifact(spark, VbBindings, VbMv, manifest, 3)
    requireFresh(spark, VbBindings, VbMv)
    val p2 = phaseRows("p2_refreshed")

    (p1 ++ p2).toDF("phase", "artifact", "bound_version",
        "head_version", "n_fresh_commits", "n_retired_commits",
        "is_fresh", "n_keys", "checksum")
      .orderBy(col("phase"), col("artifact"))
  }

  // ------------------------ consumer-pinned retention (q334)

  private[graft] val PrBindings = "graft_artifact_bindings_pr"
  private[graft] val PrMv = "graft_mv_cust_orders_pr"

  /** Binding-aware retention: retained = {manifest head} ∪ {every
    * artifact's bound version} — an incremental consumer needs BOTH
    * ends of its next changelog window (bound → head), so its bound
    * version's manifest rows and segments must survive expiry until
    * it refreshes. Returns the retained set for the report. */
  private[graft] def bindingAwareRetention(spark: SparkSession,
      data: String, manifest: String, bindingsT: String): Seq[Int] = {
    val head = headVersion(spark, manifest)
    val pinned = latestBindings(spark, bindingsT).values
      .collect { case (m, v) if m == manifest => v }
    val retained = (pinned.toSet + head).toSeq.sorted
    expireVersions(spark, manifest, col("version").isin(retained: _*))
    vacuumData(spark, data, manifest)
    retained
  }

  /** CONSUMER-PINNED RETENTION — the q330×q333 composition, and the
    * failure mode every real format documents (Iceberg "expire
    * snapshots breaks incremental consumers", Delta CDF retention
    * vs streaming reads): snapshot expiry and changelog-maintained
    * artifacts share the table, and a vacuum that ignores the
    * binding log destroys the retired-segment rows a lagging
    * consumer's NEXT delta fold must read — the refresh then
    * silently drops its '−' side and publishes a WRONG view (the
    * spec demonstrates exactly that on a binding-blind clone; no
    * error surfaces without the pin). The binding log already
    * records every consumer's position (q333), so retention treats
    * it as the consumer-offset ledger:
    *
    *  - p1 (consumer lagging, bound v2, head v3): the maintenance
    *    pass retains {2, 3} — v1 expires, but v2 is PINNED by the
    *    MV's binding and segment c0 (reachable only through v2)
    *    stays on disk, still readable whole.
    *  - the consumer catches up: folds the v2→v3 signed delta —
    *    whose '−' side reads the pinned c0 — rebinds at v3, and the
    *    refreshed view is bit-equal to the v3 recompute (in the
    *    hash via the mv rows).
    *  - p2 (consumer current): the SAME pass now retains {3} only;
    *    v2 expires and the vacuum reclaims exactly c0.
    *
    * At 100 TB this is why retention is a fleet-wide contract, not a
    * per-table cron: the pin costs retaining one version's metadata
    * plus its not-yet-folded churn segments, and the alternative is
    * an incremental consumer that corrupts its state with no
    * failure. */
  def q334ConsumerPinnedRetention(spark: SparkSession,
      dir: String): DataFrame = {
    import spark.implicits._
    val (data, manifest, _) = buildSnapshots(spark, dir, "_pr")
    Scale.dropManaged(spark, PrMv)
    initBindings(spark, PrBindings)

    // the lagging consumer: MV last refreshed when v2 was head
    readVersion(spark, data, manifest, 2)
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"),
        sum(dec(col("o_totalprice"))).as("sum_price"))
      .write.mode(SaveMode.Overwrite).saveAsTable(PrMv)
    bindArtifact(spark, PrBindings, PrMv, manifest, 2)

    /** All of one phase's report aggregates in ONE action (r15 opt):
      * the retained-version reads, the c0 segment probe, and the MV
      * summary are independent subtrees unioned under entity tags;
      * the driver-side status logic is unchanged. */
    def phaseRows(phase: String, retained: Seq[Int]): Seq[(String,
        String, String, Long, Double)] = {
      val c0OnDisk = spark.sql(s"SHOW PARTITIONS $data").collect()
        .map(_.getString(0).stripPrefix("commit_id=")).contains("c0")
      val bound = latestBindings(spark, PrBindings)(PrMv)._2
      val cs = commitsOfMany(spark, manifest, retained)
      def tag(name: String, df: DataFrame): DataFrame =
        df.select(lit(name).as("entity"), col("n"), col("c"))
      val aggFrames =
        retained.map { v =>
          tag(s"v$v", spark.table(data)
            .filter(col("commit_id").isin(cs(v).toSeq.sorted: _*))
            .agg(count(lit(1)).as("n"),
              sum(dec(col("o_totalprice"))).cast("double").as("c")))
        } ++
        (if (c0OnDisk) Seq(tag("c0", spark.table(data)
          .filter(col("commit_id") === "c0")
          .agg(count(lit(1)).as("n"),
            sum(dec(col("o_totalprice"))).cast("double").as("c"))))
         else Nil) :+
        tag("mv", spark.table(PrMv).agg(count(lit(1)).as("n"),
          sum(col("sum_price")).cast("double").as("c")))
      val got = aggFrames.reduce(_ unionByName _).collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2)))
        .toMap
      (1 to 3).map { v =>
        if (!retained.contains(v)) (phase, s"v$v", "expired", 0L, 0.0d)
        else {
          val status = if (v == 3) "retained" else "pinned_by_consumer"
          val (n, c) = got(s"v$v")
          (phase, s"v$v", status, n, c)
        }
      } :+ (if (c0OnDisk) {
        val (n, c) = got("c0"); (phase, "c0", "on_disk", n, c)
      } else (phase, "c0", "reclaimed", 0L, 0.0d)) :+ {
        val (n, c) = got("mv"); (phase, "mv", s"bound_v$bound", n, c)
      }
    }

    // p1: maintenance under the lagging consumer — v2 pinned, c0 stays
    val retained1 = bindingAwareRetention(spark, data, manifest,
      PrBindings)
    val p1 = phaseRows("p1_lagging", retained1)

    // the consumer catches up: the '−' side of this fold reads the
    // PINNED c0 — the read a binding-blind vacuum would have destroyed
    val refreshed = mvApplyDelta(spark.table(PrMv),
      mvSignedDelta(spark, data, manifest, 2, 3)).localCheckpoint()
    refreshed.write.mode(SaveMode.Overwrite).saveAsTable(PrMv)
    bindArtifact(spark, PrBindings, PrMv, manifest, 3)
    requireFresh(spark, PrBindings, PrMv)

    // p2: the SAME pass now expires v2 and reclaims exactly c0
    val retained2 = bindingAwareRetention(spark, data, manifest,
      PrBindings)
    val p2 = phaseRows("p2_caught_up", retained2)

    (p1 ++ p2).toDF("phase", "entity", "status", "n_rows", "checksum")
      .orderBy(col("phase"), col("entity"))
  }

  // -------------------------- cross-table transaction (q335)

  private[graft] val XtAData = "graft_snap_data_xta"
  private[graft] val XtAManifest = "graft_snap_manifest_xta"
  private[graft] val XtBData = "graft_snap_data_xtb"
  private[graft] val XtBManifest = "graft_snap_manifest_xtb"
  private[graft] val XtCatalog = "graft_catalog_xt"

  /** Resolve one catalog version to its (table → version) pair. */
  private[graft] def xtResolve(spark: SparkSession,
      catV: Int): Map[String, Int] =
    spark.table(XtCatalog).filter(col("catalog_version") === catV)
      .select(col("table_name"), col("version")).collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap

  private[graft] def xtHead(spark: SparkSession): Int =
    spark.table(XtCatalog).agg(max(col("catalog_version")))
      .collect().head.getInt(0)

  /** The catalog CAS: publish (A → aV, B → bV) as catalog version
    * `expectedHead + 1` — ONE append of both rows, so no reader ever
    * resolves a catalog version with half a pair; fails loudly if
    * the head moved (q321's compare-and-swap premise, one level up:
    * the version pointer being raced on is the CATALOG's, and a
    * loser re-stages against the new head exactly as q321's writers
    * do — spec-asserted). */
  private[graft] def xtCommitPair(spark: SparkSession,
      expectedHead: Int, aV: Int, bV: Int): Unit = {
    import spark.implicits._
    val head = xtHead(spark)
    require(head == expectedHead,
      s"catalog CAS failed: expected head $expectedHead, found $head")
    Seq((head + 1, "A", aV), (head + 1, "B", bV))
      .toDF("catalog_version", "table_name", "version")
      .write.insertInto(XtCatalog)
  }

  /** CROSS-TABLE TRANSACTION — the catalog-level commit that makes a
    * MULTI-table invariant publishable: orders (A) and their
    * lineitems (B) are separately-versioned snapshot tables, and the
    * invariant "no lineitem dangles" only holds across CONSISTENT
    * version pairs. Single-table snapshots cannot express that — a
    * reader combining A's new head with B's old one sees phantom
    * orphans even though each table is internally consistent (the
    * spec computes exactly that torn pair and shows the invariant
    * break). So visibility moves one level up:
    *
    *  - a CATALOG table maps catalog_version → (table, version) —
    *    metadata-sized, append-only; readers resolve BOTH tables
    *    from one catalog row (never a mix), then read each through
    *    its normal manifest-pruned path.
    *  - txn1 stages an orders commit AND its lineitems commit (each
    *    a staged manifest version, invisible — the q323 discipline),
    *    audits the pair INCLUDING the cross-table rule (every staged
    *    lineitem's order exists in A's staged version), and
    *    publishes both with one catalog CAS append.
    *  - txn2's lineitem batch is corrupt: the audit fails and the
    *    whole PAIR aborts — both staged versions expunge, both
    *    staged partitions vacuum (shared expiry/vacuum helpers), the
    *    catalog never references them, and the committed answer is
    *    byte-identical before and after (the post_abort row).
    *
    * At 100 TB this is the referential-integrity contract of every
    * fact/dimension pipeline: per-table commits are staged cheaply,
    * atomicity is ONE metadata append, and a reader's consistency
    * costs one catalog lookup. */
  def q335CrossTableTransaction(spark: SparkSession,
      dir: String): DataFrame = {
    import spark.implicits._
    Seq(XtAData, XtAManifest, XtBData, XtBManifest, XtCatalog)
      .foreach(Scale.dropManaged(spark, _))

    // A-side and B-side base writes touch disjoint tables — overlap
    // them (guide §2.6, r15 opt)
    Scale.inParallel(
      () => {
        Tables.orders(spark, dir)
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
            col("o_orderdate"), lit("a_base").as("commit_id"))
          .write.partitionBy("commit_id")
          .mode(SaveMode.Overwrite).saveAsTable(XtAData)
        Seq((1, "a_base")).toDF("version", "commit_id")
          .write.mode(SaveMode.Overwrite).saveAsTable(XtAManifest)
      },
      () => {
        Tables.lineitem(spark, dir)
          .select(col("l_orderkey"), col("l_extendedprice"),
            lit("b_base").as("commit_id"))
          .write.partitionBy("commit_id")
          .mode(SaveMode.Overwrite).saveAsTable(XtBData)
        Seq((1, "b_base")).toDF("version", "commit_id")
          .write.mode(SaveMode.Overwrite).saveAsTable(XtBManifest)
      })
    Seq((1, "A", 1), (1, "B", 1))
      .toDF("catalog_version", "table_name", "version")
      .write.mode(SaveMode.Overwrite).saveAsTable(XtCatalog)

    /** Stage a correlated pair: orders keys from one mod class
      * shifted out of the keyspace, plus THEIR lineitems (same
      * class, same shift) — so the pair is integral together and
      * dangling apart. Returns the two staged manifest versions. */
    def stagePair(mod: Int, shift: Long, tag: String,
        corruptB: Boolean): (Int, Int) = {
      // the two table stagings are disjoint-table work — overlap them
      val Seq(aV, bV) = Scale.inParallel(
        () => {
          stageCommit(spark, dir, XtAData, mod, shift, "2002-03-01",
            s"a_$tag")
          stageManifestVersion(spark, XtAManifest, s"a_$tag")
        },
        () => {
          val price = if (corruptB) -col("l_extendedprice")
            else col("l_extendedprice")
          Tables.lineitem(spark, dir)
            .filter(col("l_orderkey") % 100 === mod)
            .select((col("l_orderkey") + shift).as("l_orderkey"),
              price.as("l_extendedprice"), lit(s"b_$tag").as("commit_id"))
            .write.insertInto(XtBData)
          stageManifestVersion(spark, XtBManifest, s"b_$tag")
        })
      (aV, bV)
    }

    /** Audit the staged pair: per-row rules on the B batch plus the
      * CROSS-TABLE rule — every staged lineitem's order must exist
      * in A's staged version (a broadcast-sized anti-join on the
      * staged batch only, not the table). */
    def auditPair(tag: String, aV: Int): Long = {
      val stagedB = spark.table(XtBData)
        .filter(col("commit_id") === s"b_$tag")
      val rowViol = stagedB
        .filter(col("l_orderkey").isNull ||
          col("l_extendedprice") <= 0).count()
      // per-row violations alone force the abort — skip the
      // cross-table anti-join (whose build side is the whole staged
      // A version, not just the batch) when the outcome is decided
      if (rowViol > 0) return rowViol
      stagedB.join(
        readVersion(spark, XtAData, XtAManifest, aV)
          .select(col("o_orderkey").as("l_orderkey")),
        Seq("l_orderkey"), "left_anti").count()
    }

    def abortPair(aV: Int, bV: Int): Unit = {
      expireVersions(spark, XtAManifest, col("version") =!= aV)
      expireVersions(spark, XtBManifest, col("version") =!= bV)
      vacuumData(spark, XtAData, XtAManifest)
      vacuumData(spark, XtBData, XtBManifest)
    }

    /** One transaction: CAPTURE the catalog head first (the CAS
      * premise — q321's writers capture their base BEFORE staging;
      * a head re-read at commit time would make the compare-and-swap
      * vacuous, the r11 review's finding), then stage, audit, and
      * commit-or-abort the pair. */
    def txn(mod: Int, shift: Long, tag: String,
        corruptB: Boolean): Unit = {
      val expected = xtHead(spark)
      val (aV, bV) = stagePair(mod, shift, tag, corruptB)
      if (auditPair(tag, aV) == 0) xtCommitPair(spark, expected, aV, bV)
      else abortPair(aV, bV)
    }
    // txn1: clean pair — audit passes, one catalog CAS publishes both
    txn(31, 40000000L, "t1", corruptB = false)
    // txn2: corrupt lineitem batch — the PAIR aborts, zero residue
    txn(37, 50000000L, "t2", corruptB = true)

    /** One consistent read: resolve BOTH versions from one catalog
      * row, then the integrity report over the pair. */
    def pairRow(entity: String, status: String, catV: Int)
        : (String, String, Long, Long, Double, Long) = {
      val pair = xtResolve(spark, catV)
      val a = readVersion(spark, XtAData, XtAManifest, pair("A"))
        .select(col("o_orderkey"))
      val bRows = readVersion(spark, XtBData, XtBManifest, pair("B"))
        .select(col("l_orderkey"), col("l_extendedprice"))
      // all four report numbers in ONE action (r15 opt): the three
      // aggregates are independent subtrees of a single crossJoin
      val r = a.agg(count(lit(1)).as("n_a"))
        .crossJoin(bRows.agg(count(lit(1)).as("n"),
          sum(dec(col("l_extendedprice"))).cast("double").as("rev")))
        .crossJoin(bRows.join(
            a.select(col("o_orderkey").as("l_orderkey")),
            Seq("l_orderkey"), "left_anti")
          .agg(count(lit(1)).as("n_dangling")))
        .collect().head
      (entity, status, r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getLong(3))
    }

    val rows = Seq(
      pairRow("cat_v1", "base", 1),
      pairRow("cat_v2", "txn1_committed", 2),
      pairRow("cat_v2_post_abort", "txn2_aborted", xtHead(spark)))
    rows.toDF("entity", "status", "n_orders", "n_lineitems",
        "revenue", "n_dangling")
      .orderBy(col("entity"))
  }
}
