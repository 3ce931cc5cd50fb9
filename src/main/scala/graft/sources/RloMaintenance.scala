package graft.sources

import java.util

import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** SQL-REACHABLE MAINTENANCE for the DSv2 catalog (r13 verdict #4):
  * `CALL graft_rlo.system.vacuum|optimize|compact_deletes('db.t')` —
  * Spark 4's DSv2 procedure surface ([[org.apache.spark.sql.connector
  * .catalog.ProcedureCatalog]]), so expire/vacuum, segment bin-pack,
  * and MoR delete-artifact compaction run from pure SQL text exactly
  * like the q346+ DML does (the Iceberg `CALL catalog.system.*`
  * shape). Each procedure returns its report as a [[LocalScan]] —
  * the CALL's result set — so the queries that wrap them stay
  * oracle-falsifiable with zero engine-internal calls in their
  * bodies.
  *
  * The heavy lifting (what to pack, what to fold, what the swap must
  * preserve) lives in [[RloMaintenance]]; procedures are thin
  * bindings. All writes land through the same primitives as DML:
  * immutable segment dirs + one CAS-published manifest version.
  */
object RloProcedures {

  private def param(name: String, dt: DataType): ProcedureParameter =
    ProcedureParameter.in(name, dt).build()

  /** One-call bound procedure: fixed parameters, one result row
    * schema, a body over (conf, root, spark). */
  private abstract class RloProc(procName: String,
      params: Seq[ProcedureParameter], out: StructType)
      extends BoundProcedure with UnboundProcedure {
    override def name(): String = procName
    override def description(): String = s"graft_rlo $procName"
    override def bind(input: StructType): BoundProcedure = this
    override def parameters(): Array[ProcedureParameter] = params.toArray
    override def isDeterministic: Boolean = false
    def run(input: InternalRow): Seq[InternalRow]
    override def call(input: InternalRow): util.Iterator[Scan] = {
      val resultRows = run(input).toArray
      util.List.of[Scan](new LocalScan {
        override def rows(): Array[InternalRow] = resultRows
        override def readSchema(): StructType = out
        override def description(): String = s"graft_rlo $procName result"
      }).iterator()
    }
  }

  private def str(vs: Any*): InternalRow =
    new GenericInternalRow(vs.map {
      case s: String => UTF8String.fromString(s)
      case o => o.asInstanceOf[AnyRef]
    }.toArray[Any])

  /** `CALL graft_rlo.system.vacuum('db.t')` — expire history to the
    * head, then reclaim segment dirs and delete batches the EXPIRED
    * versions referenced and the head does not (the q310 two-phase).
    * Never-referenced dirs — possibly a concurrent writer's in-flight
    * attempt — are NOT touched (r14 advice); those are
    * [[sweepOrphans]]'s age-gated job. Returns one row per reclaimed
    * object. */
  def vacuum(rootOf: String => String): UnboundProcedure =
    new RloProc("vacuum", Seq(param("table", StringType)),
      StructType(Seq(StructField("reclaimed", StringType),
        StructField("kind", StringType)))) {
      override def run(input: InternalRow): Seq[InternalRow] = {
        val conf = RloMeta.sessionConf
        val root = rootOf(input.getUTF8String(0).toString)
        val head = RloMeta.headVersion(conf, root)
        val (segs, batches) = RloMeta.expireAndVacuum(conf, root, head)
        segs.map(s => str(s, "segment")) ++
          batches.map(b => str(b, "delete_batch"))
      }
    }

  /** `CALL graft_rlo.system.sweep_orphans('db.t', grace_seconds)` —
    * delete never-referenced segment/delete-batch dirs older than the
    * grace window: failed attempts and commit-race losers, which
    * vacuum deliberately leaves alone because a young unreferenced
    * dir may be an in-flight writer's (the Iceberg
    * remove_orphan_files older-than contract). */
  def sweepOrphans(rootOf: String => String): UnboundProcedure =
    new RloProc("sweep_orphans",
      Seq(param("table", StringType), param("grace_seconds", LongType)),
      StructType(Seq(StructField("reclaimed", StringType),
        StructField("kind", StringType)))) {
      override def run(input: InternalRow): Seq[InternalRow] = {
        val conf = RloMeta.sessionConf
        val root = rootOf(input.getUTF8String(0).toString)
        val (segs, batches) = RloMeta.sweepOrphans(conf, root,
          input.getLong(1) * 1000L)
        segs.map(s => str(s, "segment")) ++
          batches.map(b => str(b, "delete_batch"))
      }
    }

  /** `CALL graft_rlo.system.optimize('db.t')` — bin-pack the head's
    * live segments into size-bounded packed files and publish the
    * swap (content-identical by construction: the pack READS THROUGH
    * the table, so MoR delete artifacts are applied and dropped from
    * the packed version). Returns the swap's manifest arithmetic so
    * callers can audit both sides via VERSION AS OF. */
  def optimize(rootOf: String => String,
      catalogName: String): UnboundProcedure =
    new RloProc("optimize", Seq(param("table", StringType)),
      StructType(Seq(
        StructField("v_before", IntegerType),
        StructField("v_after", IntegerType),
        StructField("segments_before", IntegerType),
        StructField("segments_after", IntegerType),
        StructField("files_after", IntegerType),
        StructField("n_rows", LongType)))) {
      override def run(input: InternalRow): Seq[InternalRow] = {
        val qualified = input.getUTF8String(0).toString
        val r = RloMaintenance.optimize(rootOf(qualified),
          s"$catalogName.$qualified")
        Seq(new GenericInternalRow(Array[Any](r.vBefore, r.vAfter,
          r.segsBefore, r.segsAfter, r.filesAfter, r.nRows)))
      }
    }

  /** `CALL graft_rlo.system.plan_maintenance('db.t')` — the q342
    * cost-based planning discipline for CONNECTOR tables (r14 verdict
    * #6): one pass over the manifest + delete ledger (zero data IO)
    * prices each maintenance verb against its published threshold and
    * returns the ranked plan. */
  def planMaintenance(rootOf: String => String): UnboundProcedure =
    new RloProc("plan_maintenance", Seq(param("table", StringType)),
      StructType(Seq(
        StructField("rank", IntegerType),
        StructField("action", StringType),
        StructField("target", StringType),
        StructField("metric", DoubleType),
        StructField("threshold", DoubleType),
        StructField("benefit", DoubleType)))) {
      override def run(input: InternalRow): Seq[InternalRow] = {
        RloMaintenance.planMaintenance(
          rootOf(input.getUTF8String(0).toString)).map { p =>
          new GenericInternalRow(Array[Any](p.rank,
            UTF8String.fromString(p.action),
            UTF8String.fromString(p.target), p.metric, p.threshold,
            p.benefit))
        }
      }
    }

  /** `CALL graft_rlo.system.compact_deletes('db.t', threshold)` —
    * the q329 delete-debt discipline inside the connector (r13
    * verdict #3): merge the head's delete batches into ONE artifact,
    * and FOLD (copy-on-write rewrite) any segment whose delete
    * density crossed the threshold — its artifacts become inert by
    * scope and the shipped key set shrinks. One published version. */
  def compactDeletes(rootOf: String => String,
      catalogName: String): UnboundProcedure =
    new RloProc("compact_deletes",
      Seq(param("table", StringType), param("threshold", DoubleType)),
      StructType(Seq(
        StructField("commit_id", StringType),
        StructField("action", StringType),
        StructField("deletes_before", LongType),
        StructField("deletes_after", LongType)))) {
      override def run(input: InternalRow): Seq[InternalRow] = {
        val qualified = input.getUTF8String(0).toString
        val r = RloMaintenance.compactDeletes(rootOf(qualified),
          s"$catalogName.$qualified", input.getDouble(1))
        r.map { case (c, action, before, after) =>
          new GenericInternalRow(Array[Any](UTF8String.fromString(c),
            UTF8String.fromString(action), before, after))
        }
      }
    }
}

/** The maintenance bodies: pure manifest+segment arithmetic over
  * [[RloMeta]], with Spark doing the data movement. Everything
  * publishes through the version-file CAS, so maintenance races DML
  * safely — a lost race leaves nothing visible. */
object RloMaintenance {

  case class OptimizeResult(vBefore: Int, vAfter: Int, segsBefore: Int,
      segsAfter: Int, filesAfter: Int, nRows: Long)

  case class PlanItem(rank: Int, action: String, target: String,
      metric: Double, threshold: Double, benefit: Double)

  /** Published planner thresholds (the q342 discipline: a rule is a
    * threshold over a metadata-derived metric, and the plan is
    * re-derivable from the manifest alone). */
  val PlanDensityThreshold = 0.2 // fold a segment at ≥20% deleted
  val PlanBatchThreshold = 2.0 // merge artifacts at ≥2 batches
  val PlanSegmentsThreshold = 4.0 // bin-pack at ≥4 live segments

  /** Rank the maintenance verbs for one connector table from ONE
    * manifest + delete-ledger pass — zero data IO (r14 verdict #6,
    * the q342 cost-based planner for the connector tier):
    *
    *  - `compact_deletes:fold` per segment whose delete density
    *    (live artifact keys ÷ manifest rows) ≥ 0.2 — benefit = the
    *    density itself, the per-read anti-join work a fold retires.
    *  - `compact_deletes:merge` when ≥2 artifact batches are live —
    *    benefit = the file-open reduction 1 − 1/batches.
    *  - `optimize` when ≥4 live segments — benefit = the per-probe
    *    open reduction 1 − 1/segments (the q318/q360 economics).
    *
    * Ranked by benefit descending (ties: action, then target). An
    * empty plan is the healthy-table answer, not an error. */
  def planMaintenance(root: String): Seq[PlanItem] = {
    val conf = RloMeta.sessionConf
    val head = RloMeta.headVersion(conf, root)
    val live = RloMeta.commitsOf(conf, root, head)._2
    val batches = RloMeta.deletesOf(conf, root, head)
    val keys =
      if (batches.isEmpty) Map.empty[String, Array[Long]]
      else RloMeta.liveDeleteKeys(conf, root, head)

    val folds = keys.toSeq.flatMap { case (c, ks) =>
      val n = RloMeta.segStats(conf, root, c).nRows
      val density = if (n > 0) ks.length.toDouble / n else 0.0
      if (live.contains(c) && density >= PlanDensityThreshold)
        Some(PlanItem(0, "compact_deletes:fold", RloNames.display(c),
          density, PlanDensityThreshold, density))
      else None
    }
    val merge =
      if (batches.size >= PlanBatchThreshold)
        Seq(PlanItem(0, "compact_deletes:merge", "_artifacts",
          batches.size.toDouble, PlanBatchThreshold,
          1.0 - 1.0 / batches.size))
      else Nil
    val pack =
      if (live.size >= PlanSegmentsThreshold)
        Seq(PlanItem(0, "optimize", "_table", live.size.toDouble,
          PlanSegmentsThreshold, 1.0 - 1.0 / live.size))
      else Nil
    (folds ++ merge ++ pack)
      .sortBy(p => (-p.benefit, p.action, p.target))
      .zipWithIndex.map { case (p, i) => p.copy(rank = i + 1) }
  }

  private def targetFileBytes(spark: SparkSession): Long =
    spark.conf.get("spark.graft.rlo.target.file.bytes",
      RloDataWriter.DefaultTargetFileBytes.toString).toLong

  /** Bin-pack the head's live segments into one packed segment of
    * size-bounded files (the q318/q360 economics: per-probe file
    * opens drop from O(batches) to O(bytes/target)). Content is
    * IDENTICAL across the swap; prior versions keep serving the
    * small segments until vacuum. `sqlName` is the catalog-qualified
    * table name THREADED FROM THE PROCEDURE BINDING (r14 advice: the
    * catalog registers under a user-chosen name — re-deriving it from
    * the root path broke every other registration); reads go back
    * through the SQL surface so MoR artifact apply, schema evolution,
    * and pruning all participate. */
  def optimize(root: String, sqlName: String): OptimizeResult = {
    val spark = SparkSession.active
    val conf = RloMeta.sessionConf
    val head = RloMeta.headVersion(conf, root)
    val live = RloMeta.commitsOf(conf, root, head)._2
    val statsCol = RloMeta.statsCol(conf, root)
    val schema = RloMeta.readSchema(conf, root)

    // size the pack from manifest bytes (no file RPCs)
    val liveBytes = live.map { c =>
      val st = RloMeta.segStats(conf, root, c)
      if (st.bytes >= 0) st.bytes
      else RloMeta.listDataFilesWithLen(conf, root, c).map(_._2).sum
    }.sum
    val target = targetFileBytes(spark)
    val nFiles = math.max(1L, (liveBytes + target - 1) / target).toInt

    // one pass through the TABLE (delete artifacts applied, schema
    // evolution resolved) -> one packed segment of bounded files.
    // NO caching: at 100 TB the pack must stream through; stats come
    // from ONE re-read of the packed OUTPUT (bounded by the pack,
    // not the table, and read columnar)
    val cols = schema.fieldNames.map(n => col(s"`$n`"))
    val newCommit = s"p${head + 1}-${RloNames.attemptId()}"
    spark.sql(s"SELECT * FROM $sqlName")
      .select(cols: _*).repartition(nFiles)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(RloMeta.commitDir(root, newCommit).toString)
    val packed = spark.read.parquet(
      RloMeta.commitDir(root, newCommit).toString)

    val strCols = schema.fields.filter(_.dataType == StringType)
    val aggs = Seq(min(unix_date(col(statsCol))), max(unix_date(col(statsCol))),
      count(lit(1)), count(lit(1)) - count(col(statsCol))) ++
      strCols.flatMap(f => Seq(min(col(f.name)), max(col(f.name))))
    val st = packed.agg(aggs.head, aggs.tail: _*).collect().head
    if (st.getLong(2) == 0L) {
      // ZERO live rows (e.g. deletes emptied the table): the min/max
      // aggregates are null and there is nothing to pack — drop the
      // empty packed dir and publish an empty-commit version instead
      // of crashing on null bounds (r14 advice, low)
      RloMeta.deleteCommitDir(conf, root, newCommit)
      val ts0 = RloMeta.commitsOf(conf, root, head)._1 + 1000000L
      if (!RloMeta.publishVersion(conf, root, head + 1, ts0, Seq.empty))
        throw new IllegalStateException(
          s"concurrent commit: version ${head + 1} already published " +
            "- re-run OPTIMIZE against the new head")
      return OptimizeResult(head, head + 1, live.size, 0, 0, 0L)
    }
    val strBounds = strCols.zipWithIndex.flatMap {
      case (f, i) if st.getString(4 + 2 * i) != null =>
        RloMeta.truncBounds(st.getString(4 + 2 * i),
          st.getString(5 + 2 * i)).map(f.name -> _)
      case _ => None
    }.toMap
    val bytes = RloMeta.listDataFilesWithLen(conf, root, newCommit)
      .map(_._2).sum
    RloMeta.writeStats(conf, root, newCommit, st.getInt(0), st.getInt(1),
      st.getLong(2), bytes, strBounds, st.getLong(3))

    // the packed read already applied any delete artifacts: the new
    // version carries NO delete batches
    val ts = RloMeta.commitsOf(conf, root, head)._1 + 1000000L
    if (!RloMeta.publishVersion(conf, root, head + 1, ts, Seq(newCommit)))
      throw new IllegalStateException(
        s"concurrent commit: version ${head + 1} already published - " +
          "re-run OPTIMIZE against the new head")
    OptimizeResult(head, head + 1, live.size, 1,
      RloMeta.listDataFiles(conf, root, newCommit).size, st.getLong(2))
  }

  /** Merge the head's delete batches into one artifact file and fold
    * segments past the density threshold copy-on-write. Returns
    * (displayCommit, action, deletesBefore, deletesAfter) per live
    * segment that had deletes. */
  def compactDeletes(root: String, sqlName: String,
      threshold: Double): Seq[(String, String, Long, Long)] = {
    val spark = SparkSession.active
    val conf = RloMeta.sessionConf
    require(RloMeta.mode(conf, root) == "mor",
      "compact_deletes applies to merge-on-read tables")
    val head = RloMeta.headVersion(conf, root)
    val live = RloMeta.commitsOf(conf, root, head)._2
    val keys = RloMeta.liveDeleteKeys(conf, root, head)
    val statsCol = RloMeta.statsCol(conf, root)
    val schema = RloMeta.readSchema(conf, root)

    val (toFold, toKeep) = keys.partition { case (c, ks) =>
      val n = RloMeta.segStats(conf, root, c).nRows
      n > 0 && ks.length.toDouble / n >= threshold
    }

    // FOLD: rewrite each dense segment through the table read (its
    // artifacts applied), landing a fresh segment; the old segment
    // and its artifacts stay on disk for prior versions
    var nextCommits = live.filterNot(toFold.keySet)
    val folded = toFold.keys.toSeq.sorted.map { c =>
      val newCommit = s"f${head + 1}-${RloNames.attemptId()}"
      val cols = schema.fieldNames.map(n => col(s"`$n`"))
      spark.sql(
        s"SELECT * FROM $sqlName WHERE _partition = '$c'")
        .select(cols: _*)
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(RloMeta.commitDir(root, newCommit).toString)
      val rows = spark.read.parquet(
        RloMeta.commitDir(root, newCommit).toString)
      val st = rows.agg(min(unix_date(col(statsCol))),
        max(unix_date(col(statsCol))), count(lit(1)),
        count(lit(1)) - count(col(statsCol))).collect().head
      RloMeta.writeStats(conf, root, newCommit, st.getInt(0),
        st.getInt(1), st.getLong(2),
        RloMeta.listDataFilesWithLen(conf, root, newCommit).map(_._2).sum,
        Map.empty, st.getLong(3))
      nextCommits = nextCommits :+ newCommit
      c -> newCommit
    }

    // MERGE: the surviving keys (unfolded segments only) land as ONE
    // artifact file in one new batch - the per-read artifact ship is
    // bounded again
    val deletes =
      if (toKeep.isEmpty || toKeep.values.forall(_.isEmpty)) Nil
      else {
        val dbatch = s"d${head + 1}-${RloNames.attemptId()}"
        val p = new org.apache.hadoop.fs.Path(
          RloMeta.deleteBatchDir(root, dbatch), "merged-000.parquet")
        val mt = RloMeta.messageTypeFor(RloMeta.DeleteSchema,
          "spark_schema")
        val factory = new SimpleGroupFactory(mt)
        val w = ExampleParquetWriter.builder(
          HadoopOutputFile.fromPath(p, conf)).withType(mt).withConf(conf)
          .build()
        try toKeep.toSeq.sortBy(_._1).foreach { case (c, ks) =>
          ks.foreach { k =>
            val g = factory.newGroup()
            g.add("del_key", k)
            g.add("target_commit", c)
            w.write(g)
          }
        } finally w.close()
        Seq(dbatch)
      }

    val ts = RloMeta.commitsOf(conf, root, head)._1 + 1000000L
    if (!RloMeta.publishVersion(conf, root, head + 1, ts, nextCommits,
        deletes))
      throw new IllegalStateException(
        s"concurrent commit: version ${head + 1} already published - " +
          "re-run compact_deletes against the new head")

    val foldedMap = folded.toMap
    keys.toSeq.sortBy(_._1).map { case (c, ks) =>
      if (foldedMap.contains(c))
        (RloNames.display(c), "folded", ks.length.toLong, 0L)
      else (RloNames.display(c), "merged", ks.length.toLong,
        ks.length.toLong)
    }
  }
}
