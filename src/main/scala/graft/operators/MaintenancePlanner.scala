package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** COST-BASED MAINTENANCE PLANNER — the r11 verdict's #6: the tier
  * has every maintenance verb (bin-pack q318/q332, MoR fold q317/
  * q329, recluster q313/q341, vacuum q310/q330, rebuild q327) but no
  * brain that decides WHICH segment gets WHICH verb — the
  * OPTIMIZE-scheduling loop every managed table service runs nightly.
  * (The reference's only maintenance strategy is re-running the whole
  * pipeline — ref `dags/etl_csv_to_dwh.py:36`, a full
  * extract→transform→overwrite per run — which is the O(table) cost
  * this planner's O(metadata) decisions exist to avoid.)
  * The planner here reads ONLY metadata — the per-file stats manifest
  * (file count, rows, key envelopes) and the delete-artifact ledger —
  * and emits a ranked plan; no data row is touched to plan
  * (spec-asserted: the planner's physical plan contains no scan of
  * the data table).
  *
  * Rules, each a published threshold over a metadata-derived metric:
  *
  *  - COMPACT when the fill fraction rows/(files × target) < 0.5 —
  *    benefit = the file-count reduction 1 − ceil(rows/target)/files
  *    (what q318/q332 deliver; fewer files = fewer opens per probe
  *    and a smaller manifest).
  *  - FOLD when delete density (scoped artifact rows ÷ ledger rows)
  *    ≥ 0.05 — benefit = the density itself (the per-read anti-join
  *    work q329 retires; the same trigger arithmetic q317's fold
  *    uses, surfaced as a plan instead of acted on inline).
  *  - RECLUSTER when the standard probe's scan fraction
  *    (envelope-overlapping files ÷ files) ≥ 0.5 — benefit =
  *    scan_fraction − estimated selectivity, where selectivity is
  *    the uniform-key estimate (probe span ÷ segment key span) every
  *    cost model starts from; it is an ESTIMATE by design — the
  *    planner ranks expected wins, the executed rewrite then proves
  *    the real one (the spec executes the top item and asserts the
  *    certified metric moved as predicted).
  *  - NONE otherwise (a healthy segment is the common case; a
  *    planner that always finds work is a planner that wastes IO).
  *
  * The fixture engineers one pathology per segment — s0 small files,
  * s1 delete debt, s2 arrival-hash interleaving, s3 healthy — so
  * every rule fires exactly once and the oracle re-derives the whole
  * plan (metrics, benefits, ranks) from the same cut arithmetic. At
  * 100 TB this report is the nightly input to the maintenance
  * scheduler: its cost is one manifest scan, and every number in it
  * prices real IO the verbs would save. */
object MaintenancePlanner {

  private[graft] val MpData = "graft_mp_data"
  private[graft] val MpManifest = "graft_mp_manifest"
  private[graft] val MpDeletes = "graft_mp_deletes"

  private[graft] val FillThreshold = 0.5
  private[graft] val DensityThreshold = 0.05
  private[graft] val ScanFracThreshold = 0.5

  private def rpfOf(n: Long): Long = math.max(64L, (n + 63L) / 64L)

  /** Build the four-pathology fixture: segments by o_orderkey mod 4,
    * per-segment file cuts (s0 eighth-size sorted, s1 full-size
    * sorted + 8% delete artifacts, s2 full-size ARRIVAL-HASH order,
    * s3 full-size sorted), stats manifest, delete ledger. */
  private[graft] def buildFixture(spark: SparkSession,
      dir: String): Unit = {
    import spark.implicits._
    Seq(MpData, MpManifest, MpDeletes)
      .foreach(Scale.dropManaged(spark, _))
    val orders = Tables.orders(spark, dir).select(col("o_orderkey"))
    val rpf = rpfOf(orders.count())
    val small = math.max(1L, rpf / 8)

    def cut(mod: Int, per: Long, sortKey: org.apache.spark.sql.Column)
        : DataFrame =
      Scale.globalIndex(
          orders.filter(col("o_orderkey") % 4 === mod)
            .withColumn("skey", sortKey),
          col("skey").asc, col("o_orderkey").asc)
        .select(col("o_orderkey"),
          format_string(s"s${mod}_%d",
            expr(s"(rank - 1) div $per")).as("seg_file"),
          lit(s"s$mod").as("segment"))
    val byKey = col("o_orderkey")
    val byHash = (col("o_orderkey") * 2654435761L) % 1000003L
    // the four segment cuts each pay a globalIndex (range sort +
    // counts job) at CONSTRUCTION — independent, so build them as a
    // concurrent wave; the delete ledger is independent of the data
    // chain and overlaps it too (guide §2.6, r16)
    val cuts = Scale.inParallel(
      () => cut(0, small, byKey),
      () => cut(1, rpf, byKey),
      () => cut(2, rpf, byHash),
      () => cut(3, rpf, byKey))
    Scale.inParallel(
      () => {
        cuts.reduce(_ unionByName _)
          .write.partitionBy("seg_file")
          .mode(SaveMode.Overwrite).saveAsTable(MpData)
        spark.table(MpData)
          .groupBy(col("segment"), col("seg_file"))
          .agg(count(lit(1)).as("n_rows"),
            min(col("o_orderkey")).as("min_k"),
            max(col("o_orderkey")).as("max_k"))
          .write.mode(SaveMode.Overwrite).saveAsTable(MpManifest)
      },
      () => orders.filter(col("o_orderkey") % 4 === 1 &&
          col("o_orderkey") % 1000 < 80)
        .select(col("o_orderkey").as("del_key"),
          lit("s1").as("target_segment"))
        .write.mode(SaveMode.Overwrite).saveAsTable(MpDeletes))
  }

  /** Per-segment metadata metrics — ONE definition consumed by the
    * plan (before-state) and by q344's delivery certification
    * (after-state recompute): files, rows, fill fraction, delete
    * density, probe scan fraction, uniform-selectivity estimate. */
  private[graft] case class SegMetrics(segment: String, files: Long,
      rows: Long, fill: Double, density: Double, scanFrac: Double,
      estSel: Double)

  private[graft] def segMetrics(spark: SparkSession): Seq[SegMetrics] =
    segMetricsRpf(spark)._1

  /** [[segMetrics]] plus the rpf it derived from the same manifest
    * pass — callers that need both (plan, q344) were paying a second
    * identical manifest aggregate for it (r16). */
  private[graft] def segMetricsRpf(
      spark: SparkSession): (Seq[SegMetrics], Long) = {
    val mf = spark.table(MpManifest)
    // ONE manifest aggregate serves hi AND rpf (r16: was two separate
    // collects over the same table), and the independent delete-ledger
    // collect overlaps it (guide §2.6) — 2 driver rounds → 1
    val (hiRpf, delRows) = Scale.both(
      () => mf.agg(max(col("max_k")), sum(col("n_rows"))).collect().head,
      () => spark.table(MpDeletes)
        .groupBy(col("target_segment")).agg(count(lit(1)).as("n_del"))
        .collect())
    val hi = hiRpf.getLong(0) / 10
    val rpf = rpfOf(hiRpf.getLong(1))
    val dels = delRows.map(r => r.getString(0) -> r.getLong(1)).toMap
    mf.groupBy(col("segment"))
      .agg(count(lit(1)).as("files"), sum(col("n_rows")).as("n_rows"),
        min(col("min_k")).as("mn"), max(col("max_k")).as("mx"),
        sum(when(col("min_k") <= hi, 1L).otherwise(0L)).as("overl"))
      .collect().map { r =>
        val (seg, files, n) = (r.getString(0), r.getLong(1), r.getLong(2))
        val (mn, mx, overl) = (r.getLong(3), r.getLong(4), r.getLong(5))
        SegMetrics(seg, files, n,
          n.toDouble / (files * rpf).toDouble,
          dels.getOrElse(seg, 0L).toDouble / n.toDouble,
          overl.toDouble / files.toDouble,
          (hi - mn + 1).toDouble / (mx - mn + 1).toDouble)
      }.toSeq.sortBy(_.segment) -> rpf
  }

  /** The ranked verb list from a metric snapshot — shared by the
    * plan report and the executor. */
  private[graft] def verbsOf(m: SegMetrics,
      rpf: Long): Seq[(String, Double, Double)] = {
    val fired = Seq(
      (m.fill < FillThreshold) -> (("compact", m.fill,
        1.0 - ((m.rows + rpf - 1) / rpf).toDouble / m.files.toDouble)),
      (m.density >= DensityThreshold) -> (("fold", m.density,
        m.density)),
      (m.scanFrac >= ScanFracThreshold) -> (("recluster", m.scanFrac,
        m.scanFrac - m.estSel))
    ).collect { case (true, v) => v }
    if (fired.nonEmpty) fired else Seq(("none", 0.0, 0.0))
  }

  /** The plan itself — METADATA ONLY: one pass over the stats
    * manifest plus one over the delete ledger; segment summaries are
    * collected (4 rows) and the rules run driver-side. Returns
    * (rank, segment, verb, files, n_rows, metric, expected_benefit). */
  private[graft] def plan(spark: SparkSession): DataFrame = {
    import spark.implicits._
    // rpf comes out of the SAME manifest pass as the metrics (r16:
    // the separate sum collect it replaced read the same table state)
    val (metrics, rpf) = segMetricsRpf(spark)
    val rows = metrics.flatMap { m =>
      verbsOf(m, rpf).map { case (verb, metric, benefit) =>
        (m.segment, verb, m.files, m.rows, metric, benefit)
      }
    }.sortBy { case (seg, _, _, _, _, benefit) => (-benefit, seg) }
    rows.zipWithIndex.map { case ((seg, verb, files, n, m, b), i) =>
      (i + 1, seg, verb, files, n, m, b)
    }.toSeq
      .toDF("rank", "segment", "verb", "files", "n_rows", "metric",
        "expected_benefit")
      .orderBy(col("rank"))
  }

  /** q342: fixture + plan. Every number is re-derived by the oracle
    * from the cut arithmetic; the spec additionally asserts the
    * planner's physical plan never scans the data table, and that
    * EXECUTING the top item (recluster s2) moves the certified metric
    * by what the plan predicted. */
  def q342MaintenancePlanner(spark: SparkSession,
      dir: String): DataFrame = {
    buildFixture(spark, dir)
    plan(spark)
  }

  /** Rewrite one segment: manifest names its files (pruned read),
    * optional artifact application (fold), key-sorted recut at the
    * table's target size under NEW file names, old partitions
    * dropped, manifest maintained incrementally (retire exactly the
    * old files' rows, derive new rows from the rewrite output — the
    * q341 discipline). */
  /** The PREP phase of one segment rewrite — pruned read, optional
    * artifact application, key-sorted recut MATERIALIZED (globalIndex
    * pins the sorted blocks) but NOT yet inserted — split out (r16)
    * so q344 can run several segments' expensive sort phases as one
    * concurrent wave; the insert itself must stay serial per table
    * (concurrent jobs writing one table path race on its shared
    * `_temporary` staging dir). Returns the recut frame and the
    * segment's OLD file names. */
  private def rewriteSegmentPrep(spark: SparkSession, seg: String,
      rpf: Long, tag: String,
      applyDeletes: Boolean): (DataFrame, Seq[String]) = {
    val files = spark.table(MpManifest)
      .filter(col("segment") === seg)
      .select(col("seg_file")).collect().map(_.getString(0)).toSeq
    val rows0 = spark.table(MpData)
      .filter(col("seg_file").isin(files: _*))
    val rows = if (applyDeletes)
      rows0.join(broadcast(spark.table(MpDeletes)
          .filter(col("target_segment") === seg)),
        col("o_orderkey") === col("del_key"), "left_anti")
      else rows0
    val recut = Scale.globalIndex(
        rows.withColumn("skey", col("o_orderkey")),
        col("skey").asc, col("o_orderkey").asc)
      .select(col("o_orderkey"), lit(seg).as("segment"),
        format_string(s"$seg${tag}_%d",
          expr(s"(rank - 1) div $rpf")).as("seg_file"))
    (recut, files)
  }

  private def rewriteSegment(spark: SparkSession, seg: String,
      rpf: Long, tag: String, applyDeletes: Boolean): Unit = {
    val (recut, files) =
      rewriteSegmentPrep(spark, seg, rpf, tag, applyDeletes)
    recut.write.insertInto(MpData)
    // ONE batched DROP for all of the segment's old files (r15 opt):
    // the per-statement form issued up to ~128 sequential metastore
    // round-trips for s0's small-file pathology — pure driver time
    spark.sql(s"ALTER TABLE $MpData DROP IF EXISTS " +
      files.map(f => s"PARTITION (seg_file='$f')").mkString(", "))
    if (applyDeletes) {
      // the fold consumed the artifacts: vacuum the ledger rows
      val kept = spark.table(MpDeletes)
        .filter(col("target_segment") =!= seg).localCheckpoint()
      kept.write.mode(SaveMode.Overwrite).saveAsTable(MpDeletes)
    }
    val keptM = spark.table(MpManifest)
      .filter(!col("seg_file").isin(files: _*)).localCheckpoint()
    keptM.unionByName(
        spark.table(MpData)
          .filter(col("seg_file").startsWith(s"$seg${tag}_"))
          .groupBy(col("segment"), col("seg_file"))
          .agg(count(lit(1)).as("n_rows"),
            min(col("o_orderkey")).as("min_k"),
            max(col("o_orderkey")).as("max_k")))
      .write.mode(SaveMode.Overwrite).saveAsTable(MpManifest)
  }

  /** q344 — PLANNER-DRIVEN MAINTENANCE EXECUTION: run q342's ranked
    * plan item by item with the tier's own verbs (recluster and
    * compact = the q341 rewrite unit; fold = artifact application +
    * ledger vacuum, the q317/q329 move) and certify DELIVERY — for
    * every item the report carries the before-metric, the
    * after-metric RECOMPUTED from the post-maintenance metadata, the
    * prediction, and the delivered improvement. The target file size
    * is a TABLE PROPERTY fixed at creation (the q336 rule): the
    * after-metrics reuse it rather than re-deriving from the shrunk
    * post-fold table. The oracle re-derives all four numbers per
    * item from the cut arithmetic — an executor that rewrites the
    * wrong segment, loses rows, leaves artifacts behind, or a
    * planner whose promises don't survive execution all hash-fail.
    * At 100 TB this is the nightly OPTIMIZE job end to end: plan
    * from metadata, touch only the segments the plan names, and
    * publish the delivered numbers next to the predictions so the
    * cost model stays honest. */
  def q344ExecutePlan(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    buildFixture(spark, dir)
    // rpf from the same manifest pass as the before-metrics (r16)
    val (before, rpf) = segMetricsRpf(spark)
    val planned = before.flatMap { m =>
      verbsOf(m, rpf).map { case (verb, metric, benefit) =>
        (m.segment, verb, metric, benefit)
      }
    }.sortBy { case (seg, _, _, benefit) => (-benefit, seg) }

    val tagOf = Map("recluster" -> "r", "compact" -> "c", "fold" -> "f")
    val work = planned.collect {
      case (seg, verb, _, _) if tagOf.contains(verb) =>
        (seg, tagOf(verb), verb == "fold")
    }
    if (work.map(_._1).distinct.size == work.size) {
      // r16 (guide §2.6): the planned verbs target DISJOINT segments,
      // so their expensive phases (pruned read → optional artifact
      // anti-join → globalIndex sort, pinned) are independent — run
      // them as one concurrent wave; the inserts stay serial (one
      // table path = one `_temporary` staging dir) but each just
      // streams pinned sorted blocks. Metadata maintenance then runs
      // ONCE: a single batched DROP of every retired file, one
      // manifest rebuild (retire all old rows + derive all new rows
      // in one aggregate), one ledger vacuum. Every read sees the
      // state the serial form saw: the manifest is only mutated
      // after the wave, each prep's scan is partition-pruned to its
      // own OLD file names, and the fold's artifact anti-join reads
      // a ledger nothing mutates until the vacuum. Final table state
      // is byte-identical to the serial execution — oracle and
      // delivery certification hold unchanged.
      val preps = Scale.inParallel(work.map { case (seg, tag, fold) =>
        () => rewriteSegmentPrep(spark, seg, rpf, tag, fold)
      }: _*)
      preps.foreach { case (recut, _) => recut.write.insertInto(MpData) }
      val retired = preps.flatMap(_._2)
      Scale.dropPartitions(spark, MpData,
        retired.map(f => s"seg_file='$f'"))
      val keptM = spark.table(MpManifest)
        .filter(!col("seg_file").isin(retired: _*)).localCheckpoint()
      keptM.unionByName(
          spark.table(MpData)
            .filter(work.map { case (seg, tag, _) =>
              col("seg_file").startsWith(s"$seg${tag}_")
            }.reduce(_ || _))
            .groupBy(col("segment"), col("seg_file"))
            .agg(count(lit(1)).as("n_rows"),
              min(col("o_orderkey")).as("min_k"),
              max(col("o_orderkey")).as("max_k")))
        .write.mode(SaveMode.Overwrite).saveAsTable(MpManifest)
      val folded = work.collect { case (seg, _, true) => seg }
      if (folded.nonEmpty) {
        val kept = spark.table(MpDeletes)
          .filter(!col("target_segment").isin(folded: _*))
          .localCheckpoint()
        kept.write.mode(SaveMode.Overwrite).saveAsTable(MpDeletes)
      }
    } else
      // a segment drew several verbs (not the engineered fixture):
      // keep the provably-correct serial unit
      work.foreach { case (seg, tag, fold) =>
        rewriteSegment(spark, seg, rpf, tag, applyDeletes = fold)
      }

    val after = segMetrics(spark).map(m => m.segment -> m).toMap
    val beforeMap = before.map(m => m.segment -> m).toMap
    // fill uses the CREATION-time target size on both sides
    def fillAt(m: SegMetrics): Double =
      m.rows.toDouble / (m.files * rpf).toDouble
    val rows = planned.zipWithIndex.map {
      case ((seg, verb, metricBefore, benefit), i) =>
        val (b, a) = (beforeMap(seg), after(seg))
        val (metricAfter, delivered) = verb match {
          case "compact" =>
            (fillAt(a), 1.0 - a.files.toDouble / b.files.toDouble)
          case "fold" => (a.density, b.density - a.density)
          case "recluster" =>
            (a.scanFrac, b.scanFrac - a.scanFrac)
          case _ => (0.0, 0.0)
        }
        (i + 1, seg, verb, metricBefore, metricAfter, benefit,
          delivered)
    }
    rows.toDF("rank", "segment", "verb", "metric_before",
        "metric_after", "expected_benefit", "delivered")
      .orderBy(col("rank"))
  }
}
