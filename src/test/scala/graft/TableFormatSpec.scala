package graft

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, GraphOps, TableFormat}

/** Contracts of the table-metadata layer (q307–q310, q312) and the
  * label-propagation tier (q311). The RESULTS are hash-checked by the
  * driver's DuckDB gate; what lives here are the properties the
  * oracle cannot see — that pruning really happens at file listing,
  * that snapshots stay stable after later commits, that the vacuum
  * deletes exactly the unreachable segments, and that propagation
  * coverage behaves like the scaladoc promises. */
class TableFormatSpec extends AnyFunSuite {
  import TestSpark._

  // the layout/graph tests need the wider sf0.01 value ranges (the
  // sf0.001 fixture only populates price buckets 0..9 and has too few
  // files for the z-curve to separate dimensions)
  private val sf01 = "/root/testdata/sf0.01"

  import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
  import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

  private def scansOf(df: DataFrame, table: String)
      : Seq[FileSourceScanExec] = {
    val finalPlan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    def go(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case q: QueryStageExec => go(q.plan)
      case f: FileSourceScanExec => Seq(f)
      case o => o.children.flatMap(go)
    }
    go(finalPlan).filter(_.tableIdentifier.exists(_.table == table))
  }

  test("q307 reads exactly the manifest-selected zone files — " +
      "pruning is a file-listing guarantee") {
    val df = TableFormat.q307ZonemapPrune(spark, sf01)
    df.collect() // partitions-read is a runtime fact
    val scans = scansOf(df, TableFormat.ZData)
    assert(scans.nonEmpty)
    assert(scans.head.partitionFilters.exists(
      _.toString.toLowerCase.contains("zfile")),
      scans.head.partitionFilters.mkString("\n"))
    val overlap = TableFormat.overlappingFiles(
      spark.table(TableFormat.ZManifest), TableFormat.ZBox).count()
    val total = spark.table(TableFormat.ZManifest).count()
    assert(scans.head.metrics("numPartitions").value == overlap,
      s"read ${scans.head.metrics("numPartitions").value} of $total, " +
        s"manifest says $overlap overlap")
  }

  test("q308 certificate matches physics: the z-layout's box_2d file " +
      "count equals q307's actual partitions-read, and the z-order " +
      "layout skips where the linear layout cannot") {
    // q307 first: builds the persisted layout AND gives the physical
    // partitions-read number the certificate must reproduce
    val pruned = TableFormat.q307ZonemapPrune(spark, sf01)
    pruned.collect()
    val physical =
      scansOf(pruned, TableFormat.ZData).head.metrics("numPartitions").value
    val cert = TableFormat.q308ZonemapSkipRatio(spark, sf01).collect()
      .map(r => (r.getInt(0), r.getString(2)) ->
        (r.getLong(3), r.getLong(4))).toMap
    // box_2d (box_id 3) == q307's probe box, zorder layout == the
    // persisted layout: the paper number IS the physical scan
    assert(cert((3, "zorder"))._2 == physical,
      s"certificate says ${cert((3, "zorder"))._2}, scan read $physical")
    // the trade the certificate exists to show: on the SECONDARY
    // dimension the linear layout scans everything, z-order skips
    val (linTot, linHit) = cert((2, "linear"))
    val (zTot, zHit) = cert((2, "zorder"))
    assert(linHit == linTot, "linear layout cannot skip on y")
    assert(zHit < zTot, "z-order must skip on y")
    // and every layout prunes SOMETHING on the 2-D box
    assert(cert((3, "linear"))._2 < cert((3, "linear"))._1)
    assert(cert((3, "zorder"))._2 < cert((3, "zorder"))._1)
  }

  test("q313 re-cluster shrinks the probe's file set without moving " +
      "a row, and the optimized probe is physically pruned") {
    val rows = TableFormat.q313Recluster(spark, sf01).collect()
      .map(r => r.getString(0) -> r).toMap
    val (before, after) = (rows("before"), rows("after"))
    // content preservation: identical slice through both layouts
    assert(before.getLong(3) == after.getLong(3))
    assert(before.getDouble(4) == after.getDouble(4))
    // the rewrite is worth running: fewer files under the same box
    assert(after.getLong(2) < before.getLong(2),
      s"optimize did not help: $before vs $after")
    // physical check: a fresh probe of the optimized layout reads
    // exactly the manifest-selected partitions
    val probe = spark.table(TableFormat.OptData)
      .filter(col("zfile").isin(
        TableFormat.overlappingFiles(
          spark.table(TableFormat.OptManifest), TableFormat.ZBox)
          .select(col("zfile")).collect().map(_.getInt(0)).toSeq: _*))
    probe.collect()
    val scans = scansOf(probe, TableFormat.OptData)
    assert(scans.head.metrics("numPartitions").value == after.getLong(2))
  }

  test("q309 snapshots are immutable: v1/v2 re-read byte-stable " +
      "after the v3 delete commits, and every read is " +
      "commit-pruned") {
    TableFormat.q309TimeTravel(spark, sf).collect() // full lifecycle
    val data = "graft_snap_data_snap"
    val manifest = "graft_snap_manifest_snap"
    val orders = Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        col("o_orderdate"))
    // v2 == the full base table, row for row, AFTER v3 exists
    val v2 = TableFormat.readVersion(spark, data, manifest, 2)
      .select(orders.columns.map(col): _*)
    assert(v2.exceptAll(orders).isEmpty && orders.exceptAll(v2).isEmpty,
      "v2 drifted after the v3 commit")
    // v1 == the pre-append prefix
    val v1 = TableFormat.readVersion(spark, data, manifest, 1)
    val expectV1 = orders
      .filter(col("o_orderdate") < lit("1999-01-01").cast("timestamp"))
      .count()
    assert(v1.count() == expectV1)
    // pruning: the v1 read lists exactly its two commits
    v1.collect()
    val scans = scansOf(v1, data)
    assert(scans.head.partitionFilters.exists(
      _.toString.toLowerCase.contains("commit_id")))
    assert(scans.head.metrics("numPartitions").value == 2)
  }

  test("q310 vacuum reclaims exactly the unreachable segment and the " +
      "survivor version still reads whole") {
    TableFormat.q310SnapshotVacuum(spark, sf).collect()
    val parts = spark.sql("SHOW PARTITIONS graft_snap_data_gc")
      .collect().map(_.getString(0)).toSet
    assert(parts == Set("commit_id=c0_rw", "commit_id=c1",
      "commit_id=c2"), parts.toString)
    // the manifest forgot the expired versions
    val versions = spark.table("graft_snap_manifest_gc")
      .select(col("version")).distinct()
      .collect().map(_.getInt(0)).toSet
    assert(versions == Set(3))
    // the live version reads whole: everything except the retention
    // victims
    val expect = Tables.orders(spark, sf)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp"))
      .count()
    assert(TableFormat.readVersion(spark, "graft_snap_data_gc",
      "graft_snap_manifest_gc", 3).count() == expect)
  }

  test("q315 merge preserves time travel and the new version reads " +
      "pruned to its four commits") {
    val report = TableFormat.q315SnapshotMerge(spark, sf).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(report.keySet == Set("c0_rw", "c1_mg", "c2", "c3"))
    assert(report("c1_mg").getString(3) == "rewritten")
    assert(report("c3").getString(3) == "appended")
    // v3 (pre-merge latest) still reads whole AFTER the merge: the
    // rewrite created c1_mg, it did not touch c1
    val v3 = TableFormat.readVersion(spark, "graft_snap_data_mg",
      "graft_snap_manifest_mg", 3)
    val expectV3 = Tables.orders(spark, sf)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp"))
      .count()
    assert(v3.count() == expectV3, "v3 drifted across the merge")
    // v4 reads exactly its manifest commits
    val v4 = TableFormat.readVersion(spark, "graft_snap_data_mg",
      "graft_snap_manifest_mg", 4)
    v4.collect()
    val scans = scansOf(v4, "graft_snap_data_mg")
    assert(scans.head.metrics("numPartitions").value == 4)
    // deletes applied: the rewritten segment lost exactly the 1997-H1
    // delete keys relative to its predecessor
    val c1n = Tables.orders(spark, sf)
      .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1999-01-01").cast("timestamp"))
    val dels = c1n.filter(col("o_orderkey") % 100 === 29 &&
      col("o_orderdate") < lit("1997-07-01").cast("timestamp")).count()
    assert(report("c1_mg").getLong(1) == c1n.count() - dels)
  }

  test("q318 compaction bin-packs to the target, keeps every " +
      "historical version readable row-for-row, and the probe's file " +
      "set shrinks") {
    val report = TableFormat.q318CommitCompaction(spark, sf01).collect()
      .map(r => r.getString(0) -> r).toMap
    val (before, after) = (report("before"), report("after"))
    // the slice is layout-independent; the file bill is not
    assert(before.getLong(3) == after.getLong(3))
    assert(before.getDouble(4) == after.getDouble(4))
    assert(after.getLong(2) < before.getLong(2),
      s"probe file set did not shrink: $before vs $after")
    // post-compaction segment count == the bin-pack target
    val nSmall = before.getLong(1)
    val target = (nSmall + TableFormat.CpPackSize - 1) / TableFormat.CpPackSize
    assert(after.getLong(1) == target, s"${after.getLong(1)} vs $target")
    // the packed version and the last small-built version agree
    // row-for-row: compaction moved bytes, never rows
    val keep = Seq("o_orderkey", "o_custkey", "o_totalprice",
      "o_orderdate").map(col)
    val lastSmall = TableFormat.readVersion(spark, TableFormat.CpData,
      TableFormat.CpManifest, nSmall.toInt).select(keep: _*)
    val packed = TableFormat.readVersion(spark, TableFormat.CpData,
      TableFormat.CpManifest, nSmall.toInt + 1).select(keep: _*)
    assert(lastSmall.exceptAll(packed).isEmpty &&
      packed.exceptAll(lastSmall).isEmpty,
      "compaction changed version content")
    // historical versions still resolve to their ORIGINAL small
    // commits, partition-pruned — the small files were not touched
    val v3 = TableFormat.readVersion(spark, TableFormat.CpData,
      TableFormat.CpManifest, 3)
    v3.collect()
    val scans = scansOf(v3, TableFormat.CpData)
    assert(scans.head.metrics("numPartitions").value == 3)
  }

  test("q319 schema evolution: rename is metadata-only (v2 and v3 " +
      "carry identical values under the two names), old versions " +
      "re-read byte-stable, and the cross-generation read resolves " +
      "every physical layout") {
    TableFormat.q319SchemaEvolution(spark, sf).collect()
    // v2 exposes the field under its old name, v3 under the new one —
    // same field id, same files, same values
    val v2 = TableFormat.readVersionSe(spark, 2)
    val v3 = TableFormat.readVersionSe(spark, 3)
    assert(v2.columns.contains("o_custkey") &&
      !v2.columns.contains("cust_id"))
    assert(v3.columns.contains("cust_id") &&
      !v3.columns.contains("o_custkey"))
    val a = v2.select(col("o_orderkey"), col("o_custkey").as("c"))
    val b = v3.select(col("o_orderkey"), col("cust_id").as("c"))
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      "rename changed values")
    // v1 re-reads byte-stable after the whole history
    val orders = Tables.orders(spark, sf)
    val expectV1 = orders
      .filter(col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      .select(col("o_orderkey").cast("bigint"),
        col("o_totalprice").cast("double"))
    val v1 = TableFormat.readVersionSe(spark, 1)
      .select(col("o_orderkey"), col("o_totalprice"))
    assert(v1.exceptAll(expectV1).isEmpty &&
      expectV1.exceptAll(v1).isEmpty, "v1 drifted")
    // cross-generation resolution: pre-evolution rows NULL-fill, the
    // renamed generation maps its old physical column through
    val v4 = TableFormat.readVersionSe(spark, 4)
    assert(v4.filter(col("commit_id") === "c0" &&
      col("cust_id").isNotNull).count() == 0)
    assert(v4.filter(col("commit_id") === "c1" &&
      col("cust_id").isNull).count() == 0)
    val expectC1 = orders
      .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1999-01-01").cast("timestamp"))
      .select(col("o_orderkey").cast("bigint"),
        col("o_custkey").cast("bigint").as("cust_id"))
    val gotC1 = v4.filter(col("commit_id") === "c1")
      .select(col("o_orderkey"), col("cust_id"))
    assert(gotC1.exceptAll(expectC1).isEmpty &&
      expectC1.exceptAll(gotC1).isEmpty)
  }

  test("q317 merge-on-read: the fold fires for exactly the segments " +
      "past the density threshold, both read branches prune to their " +
      "partitions, and the MoR read equals the folded read " +
      "row-for-row") {
    // sf0.01: the takedown batch d1 reaches segment c2, so v6 still
    // carries live artifacts and the anti-join branch is non-empty
    TableFormat.q317MergeOnReadDeletes(spark, sf01).collect()

    // threshold honesty: folded == exactly the segments whose
    // artifact density crossed MorFoldThreshold (c1 via d2); segments
    // with light deletes (c2 via d1) kept their artifacts
    val density = spark.table(TableFormat.MorDeletes)
      .groupBy(col("target_commit")).agg(count(lit(1)).as("nd"))
      .join(spark.table(TableFormat.MorSegstats)
        .select(col("commit_id").as("target_commit"), col("n_rows")),
        "target_commit")
      .collect()
      .map(r => r.getString(0) ->
        r.getLong(1).toDouble / r.getLong(2).toDouble).toMap
    val shouldFold = density.collect {
      case (c, d) if d >= TableFormat.MorFoldThreshold => c
    }.toSet
    assert(shouldFold == Set("c1"), density.toString)
    val parts = spark.sql(s"SHOW PARTITIONS ${TableFormat.MorData}")
      .collect().map(_.getString(0).stripPrefix("commit_id=")).toSet
    assert(parts.filter(_.endsWith("_f")) == shouldFold.map(_ + "_f"),
      parts.toString)

    // v6 branch pruning: the direct branch lists exactly the
    // untargeted partitions, the anti branch exactly the targeted
    // ones — deletes never tax segments they don't touch
    val commits6 = spark.table(TableFormat.MorManifest)
      .filter(col("version") === 6)
      .select(col("commit_id")).collect().map(_.getString(0)).toSet
    val (direct6, anti6, scoped6) = TableFormat.morBranches(spark, 6)
    val touched6 = scoped6.select(col("target_commit")).distinct()
      .collect().map(_.getString(0)).toSet
    assert(touched6.nonEmpty && touched6.subsetOf(commits6))
    direct6.collect(); anti6.collect()
    assert(scansOf(direct6, TableFormat.MorData).head
      .metrics("numPartitions").value == (commits6 -- touched6).size)
    assert(scansOf(anti6, TableFormat.MorData).head
      .metrics("numPartitions").value == touched6.size)

    // the fold moved bytes, not rows: v5 (read through artifacts) and
    // v6 (read through the rewrite) agree row-for-row
    val keep = Seq("o_orderkey", "o_custkey", "o_totalprice",
      "o_orderdate").map(col)
    val (d5, a5, _) = TableFormat.morBranches(spark, 5)
    val v5 = d5.unionByName(a5).select(keep: _*)
    val v6df = direct6.unionByName(anti6).select(keep: _*)
    assert(v5.exceptAll(v6df).isEmpty && v6df.exceptAll(v5).isEmpty,
      "MoR and folded reads disagree")

    // a deleted key is gone from v4 but still present at v3 — delete
    // artifacts never edit history
    val k = spark.table(TableFormat.MorDeletes)
      .filter(col("dbatch") === "d1")
      .agg(min(col("del_key"))).collect().head.getLong(0)
    val (d3, a3, _) = TableFormat.morBranches(spark, 3)
    val (d4, a4, _) = TableFormat.morBranches(spark, 4)
    assert(d3.unionByName(a3)
      .filter(col("o_orderkey") === k).count() == 1)
    assert(d4.unionByName(a4)
      .filter(col("o_orderkey") === k).count() == 0)
  }

  test("q322 two-level metadata: the manifest read is itself " +
      "partition-pruned to the list-level hits and the data read " +
      "lists exactly the file-level hits") {
    val row = TableFormat.q322ManifestList(spark, sf01).collect().head
    val (mfTotal, mfRead) = (row.getLong(0), row.getLong(1))
    val (filesTotal, filesSel) = (row.getLong(2), row.getLong(3))
    // both levels actually prune
    assert(mfRead < mfTotal, s"$mfRead of $mfTotal manifests")
    assert(filesSel < filesTotal, s"$filesSel of $filesTotal files")
    val (lo, hi) = (lit("1997-03-01").cast("timestamp"),
      lit("1997-08-01").cast("timestamp"))
    // hop 2: the per-commit manifest scan lists only the commits the
    // manifest LIST named — planning IO ∝ churn, not table size
    val hitCommits = spark.table(TableFormat.MlList)
      .filter(col("min_ts") < hi && col("max_ts") >= lo)
      .select(col("commit_id")).collect().map(_.getString(0)).toSeq
    val mfScan = spark.table(TableFormat.MlManifests)
      .filter(col("commit_id").isin(hitCommits: _*))
    mfScan.collect()
    assert(scansOf(mfScan, TableFormat.MlManifests).head
      .metrics("numPartitions").value == mfRead)
    // hop 3: the data scan lists exactly the file-level survivors
    val hitFiles = mfScan
      .filter(col("min_ts") < hi && col("max_ts") >= lo)
      .select(col("seg_file")).collect().map(_.getString(0)).toSeq
    val dataScan = spark.table(TableFormat.MlData)
      .filter(col("seg_file").isin(hitFiles: _*))
    dataScan.collect()
    assert(scansOf(dataScan, TableFormat.MlData).head
      .metrics("numPartitions").value == filesSel)
  }

  test("q323 write-audit-publish: main never saw the corrupt batch, " +
      "the rejected snapshot left nothing behind, and the published " +
      "batch is fully visible") {
    TableFormat.q323WriteAuditPublish(spark, sf).collect()
    val data = TableFormat.WapData
    val manifest = TableFormat.WapManifest
    // main fast-forwarded to the clean batch's version and no audit
    // refs survive the run — read through the append-only ref log
    // (drops are tombstone rows, not rewrites: 6 log rows total)
    val refs = TableFormat.liveRefVersions(spark, TableFormat.WapRefs)
    assert(refs == Map("main" -> 4), refs.toString)
    assert(spark.table(TableFormat.WapRefs).count() == 6)
    // the rejected snapshot is expunged: no v5 in the manifest, no
    // staged partition on disk
    assert(spark.table(manifest).agg(max(col("version")))
      .collect().head.getInt(0) == 4)
    val parts = spark.sql(s"SHOW PARTITIONS $data")
      .collect().map(_.getString(0)).toSet
    assert(parts.contains("commit_id=w1") &&
      !parts.contains("commit_id=w2"), parts.toString)
    // main's content: base + the clean batch, zero audit violations
    val main = TableFormat.readVersion(spark, data, manifest, 4)
    assert(main.filter(col("o_totalprice") <= 0).count() == 0,
      "a corrupt row reached main")
    val expect = Tables.orders(spark, sf)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp"))
      .count() +
      Tables.orders(spark, sf)
        .filter(col("o_orderkey") % 100 === 31).count()
    assert(main.count() == expect)
  }

  test("wap orphan expiry is ref-log reachability, not a version " +
      "ceiling: a reject that PRECEDES a later publish still " +
      "expunges, and pre-ref history stays") {
    import spark.implicits._
    import org.apache.spark.sql.SaveMode
    val (dataT, manifestT, refsT) = ("graft_wap_rev_data",
      "graft_wap_rev_manifest", "graft_wap_rev_refs")
    // drop table AND its warehouse location: a stale directory from
    // a prior JVM (fresh metastore, persistent spark-warehouse)
    // makes a bare overwrite-saveAsTable fail with
    // LOCATION_ALREADY_EXISTS
    Seq(dataT, manifestT, refsT)
      .foreach(graft.operators.Scale.dropManaged(spark, _))
    Seq((1L, "c_a"), (2L, "w1"), (3L, "w2")).toDF("k", "commit_id")
      .write.partitionBy("commit_id")
      .mode(SaveMode.Overwrite).saveAsTable(dataT)
    // v1/v2 are pre-ref history (the log never mentions them); the
    // corrupt w1 stages and REJECTS at v4 BEFORE w2 publishes at v5
    Seq((1, "c_a"), (2, "c_a"), (3, "c_a"), (4, "c_a"), (4, "w1"),
        (5, "c_a"), (5, "w2"))
      .toDF("version", "commit_id")
      .write.mode(SaveMode.Overwrite).saveAsTable(manifestT)
    TableFormat.initRefs(spark, refsT, Seq(("main", 3)))
    TableFormat.setRef(spark, refsT, "audit_w1", 4)
    TableFormat.dropRef(spark, refsT, "audit_w1") // rejected
    TableFormat.setRef(spark, refsT, "audit_w2", 5)
    TableFormat.setRef(spark, refsT, "main", 5) // published
    TableFormat.dropRef(spark, refsT, "audit_w2")

    TableFormat.wapExpireOrphans(spark, dataT, manifestT, refsT)
    // a <= max(live-ref) ceiling would KEEP v4 here (5 >= 4); the
    // reachability rule expunges exactly it
    val versions = spark.table(manifestT).select(col("version"))
      .distinct().collect().map(_.getInt(0)).toSet
    assert(versions == Set(1, 2, 3, 5), versions.toString)
    val parts = spark.sql(s"SHOW PARTITIONS $dataT")
      .collect().map(_.getString(0)).toSet
    assert(parts == Set("commit_id=c_a", "commit_id=w2"),
      parts.toString)
    assert(TableFormat.readVersion(spark, dataT, manifestT, 5)
      .count() == 2)
  }

  test("q324 incremental MV refresh reads only the churn segments — " +
      "the shared segment never scans") {
    TableFormat.q324IncrementalMvRefresh(spark, sf).collect()
    val delta = TableFormat.mvDeltaInput(spark)
    delta.collect()
    // the union has one scan per side: fresh {c0_rw, c2} and retired
    // {c0}; the shared segment c1 appears in neither
    val scans = scansOf(delta, TableFormat.MvData)
    assert(scans.size == 2, s"${scans.size} scans")
    assert(scans.map(_.metrics("numPartitions").value).sorted == Seq(1L, 2L),
      scans.map(_.metrics("numPartitions").value).toString)
    val totalParts = spark.sql(
      s"SHOW PARTITIONS ${TableFormat.MvData}").count()
    assert(totalParts == 4)
    // version-binding stamps: build bound v1, refresh re-bound v3
    // (head), and the log keeps both
    assert(TableFormat.latestBindings(spark, TableFormat.MvBindings) ==
      Map(TableFormat.MvTable -> ("graft_snap_manifest_mv", 3)))
    assert(spark.table(TableFormat.MvBindings).count() == 2)
  }

  test("q325 as-of resolution: an instant exactly at a commit " +
      "resolves to that version, and pre-history resolves to None") {
    TableFormat.q325AsOfTimestamp(spark, sf).collect()
    // boundary: <= rule, not <
    assert(TableFormat.resolveAsOf(spark, "2000-02-01 00:00:00")
      .contains(2))
    assert(TableFormat.resolveAsOf(spark, "2000-01-31 23:59:59")
      .contains(1))
    assert(TableFormat.resolveAsOf(spark, "1999-12-31 23:59:59").isEmpty)
    assert(TableFormat.resolveAsOf(spark, "2010-01-01 00:00:00")
      .contains(3))
  }

  test("q326 shallow clone shares segments physically and writes " +
      "never leak across the table boundary") {
    TableFormat.q326ShallowClone(spark, sf).collect()
    val data = TableFormat.ClData
    // clone v1 and source v3 resolve to the SAME commit set — the
    // zero-copy claim: one manifest write, shared segments
    val srcV3 = TableFormat.commitsOf(spark, TableFormat.ClManifest, 3)
    assert(TableFormat.commitsOf(spark,
      TableFormat.CloneManifest, 1) == srcV3)
    // both reads list the same physical partitions
    val a = TableFormat.readVersion(spark, data,
      TableFormat.CloneManifest, 1)
    val b = TableFormat.readVersion(spark, data,
      TableFormat.ClManifest, 3)
    a.collect(); b.collect()
    assert(scansOf(a, data).head.metrics("numPartitions").value ==
      scansOf(b, data).head.metrics("numPartitions").value)
    // divergent writes stay on their side: the clone never sees the
    // source's y0 keys (>= 70M), the source never sees x0's (60–70M)
    val cloneV2 = TableFormat.readVersion(spark, data,
      TableFormat.CloneManifest, 2)
    assert(cloneV2.filter(col("o_orderkey") >= 70000000L).count() == 0)
    val srcV4 = TableFormat.readVersion(spark, data,
      TableFormat.ClManifest, 4)
    assert(srcV4.filter(col("o_orderkey") >= 60000000L &&
      col("o_orderkey") < 70000000L).count() == 0)
  }

  test("q321 optimistic concurrency: the loser aborts with zero " +
      "residue, history survives the race, and the rebased rewrite " +
      "moved bytes not rows") {
    TableFormat.q321CommitConflict(spark, sf).collect()
    val manifest = TableFormat.CcManifest
    val data = TableFormat.CcData
    // exactly versions 1..6 exist: D published nothing
    val versions = spark.table(manifest).select(col("version"))
      .distinct().collect().map(_.getInt(0)).toSet
    assert(versions == (1 to 6).toSet, versions.toString)
    // D's premise was truly invalid at its CAS point: its removed
    // segment is not live in the final version
    val live6 = spark.table(manifest).filter(col("version") === 6)
      .select(col("commit_id")).collect().map(_.getString(0)).toSet
    assert(!live6.contains("c1") && live6.contains("c1_cc"))
    // the orphan is gone from disk, not just unreferenced
    val parts = spark.sql(s"SHOW PARTITIONS $data")
      .collect().map(_.getString(0)).toSet
    assert(!parts.contains("commit_id=c1_d"), parts.toString)
    // the race never edits history: the shared base version re-reads
    // whole afterwards
    val expectV3 = Tables.orders(spark, sf)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp"))
      .count()
    assert(TableFormat.readVersion(spark, data, manifest, 3)
      .count() == expectV3, "base version drifted across the race")
    // C's rewrite is a compaction: v6 == v5 with c1 swapped for
    // c1_cc, row for row
    val keep = Seq("o_orderkey", "o_custkey", "o_totalprice",
      "o_orderdate").map(col)
    val v5 = TableFormat.readVersion(spark, data, manifest, 5)
      .select(keep: _*)
    val v6 = TableFormat.readVersion(spark, data, manifest, 6)
      .select(keep: _*)
    assert(v5.exceptAll(v6).isEmpty && v6.exceptAll(v5).isEmpty,
      "the rebase changed table content")
  }

  test("q320 changelog-planned dedup scans the corpus only at the " +
      "fresh partition and returns exactly the full recompute's " +
      "pair set") {
    val composed = Dedup.q320ChangelogDedup(spark, sf)
    val got = composed.collect()
    // shared segments never scanned: the churn read (the one
    // production definition) lists exactly the manifest-diff
    // partition, out of the table's four
    val churn = Dedup.cdChurn(spark)
    churn.collect()
    val scans = scansOf(churn, Dedup.CdData)
    assert(scans.nonEmpty)
    assert(scans.head.metrics("numPartitions").value == 1,
      s"churn read touched ${scans.head.metrics("numPartitions").value}")
    val parts = spark.sql(s"SHOW PARTITIONS ${Dedup.CdData}").count()
    assert(parts == 4)
    // composition is invisible in the answer: same pairs as the
    // from-scratch incremental recompute (q206)
    val full = Dedup.q206IncrementalDedup(spark, sf)
    assert(composed.exceptAll(full).isEmpty &&
      full.exceptAll(composed).isEmpty,
      s"pair sets diverged (${got.length} composed rows)")
  }

  test("q316 stats routing prunes across both partition-grain " +
      "generations") {
    val df = TableFormat.q316PartitionEvolution(spark, sf)
    val rows = df.collect()
    assert(rows.map(_.getString(0)).toSet == Set("c1", "h0", "h1", "h2"),
      rows.mkString(";"))
    assert(rows.map(r => r.getString(0) -> r.getString(1)).toMap ==
      Map("c1" -> "year", "h0" -> "half_year", "h1" -> "half_year",
        "h2" -> "half_year"))
    val scans = scansOf(df, "graft_snap_data_pe")
    assert(scans.nonEmpty)
    // four of eight segments stats-overlap the probe; the scan lists
    // exactly those, across BOTH grains
    assert(scans.head.metrics("numPartitions").value == 4)
    val pf = scans.head.partitionFilters.mkString(";")
    Seq("c0", "h3", "h4", "h5").foreach(c =>
      assert(!pf.contains(c), s"pruned-away segment in filter: $pf"))
  }

  test("q312 incremental diff never reads the shared segment") {
    val df = TableFormat.q312IncrementalDiff(spark, sf)
    df.collect()
    val scans = scansOf(df, "graft_snap_data_diff")
    assert(scans.nonEmpty)
    scans.foreach { s =>
      val pf = s.partitionFilters.mkString(";")
      assert(pf.toLowerCase.contains("commit_id"), pf)
      // churn only: c0 (retired) + c0_rw/c2 (fresh); the shared c1 is
      // planned away by manifest arithmetic before any IO
      assert(!pf.contains("c1"), s"shared segment read: $pf")
      assert(s.metrics("numPartitions").value <= 2)
    }
  }

  test("q314 streaming ingest lands one immutable commit per tick " +
      "and every version reads pruned to its commit set") {
    graft.streaming.StreamSnapshotIngest
      .q314StreamCommitIngest(spark, sf).collect()
    val parts = spark.sql("SHOW PARTITIONS graft_snap_data_si")
      .collect().map(_.getString(0)).toSet
    assert(parts == (0 to 3).map(k => s"commit_id=b$k").toSet, parts)
    // version 2 = ticks 0..1, read through exactly two partitions
    val v2 = TableFormat.readVersion(spark, "graft_snap_data_si",
      "graft_snap_manifest_si", 2)
    val expect = Tables.orders(spark, sf)
      .filter(col("o_orderkey") % 4 < 2).count()
    assert(v2.count() == expect)
    v2.collect()
    val scans = scansOf(v2, "graft_snap_data_si")
    assert(scans.head.metrics("numPartitions").value == 2)
  }

  test("q328 streaming MV maintenance: every refresh is bit-equal to " +
      "the full recompute at its version, and the per-commit delta " +
      "reads only churn segments") {
    import graft.streaming.StreamChangelogTail
    StreamChangelogTail.q328StreamMvMaintenance(spark, sf).collect()
    (1 to 3).foreach { v =>
      val got = spark.table(StreamChangelogTail.MvT)
        .filter(col("mv_version") === v)
        .select(col("o_custkey"), col("n_orders"),
          col("sum_price").cast("double").as("sp"))
      val want = TableFormat.readVersion(spark, StreamChangelogTail.DataT,
          StreamChangelogTail.ManifestT, v)
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(18,2)"))
            .cast("decimal(28,2)").cast("double").as("sp"))
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
        s"MV state at version $v is not the full recompute")
    }
    // the v2→v3 refresh's delta reads one fresh + one retired
    // partition and never the shared segments — asserted through the
    // SAME shared definition the consumer folds
    val delta = TableFormat.mvSignedDelta(spark,
      StreamChangelogTail.DataT, StreamChangelogTail.ManifestT, 2, 3)
    delta.collect()
    val scans = scansOf(delta, StreamChangelogTail.DataT)
    assert(scans.size == 2, s"${scans.size} scans")
    assert(scans.map(_.metrics("numPartitions").value).sorted ==
      Seq(1L, 1L), scans.map(_.metrics("numPartitions").value).toString)
    // version-binding stamps: one per landed refresh (the full
    // cadence history), latest at the manifest head
    val binds = spark.table(StreamChangelogTail.BindingsT)
      .select(col("bound_version")).collect().map(_.getInt(0)).sorted
    assert(binds.toSeq == Seq(1, 2, 3), binds.mkString(","))
    assert(TableFormat.latestBindings(spark,
      StreamChangelogTail.BindingsT) ==
      Map(StreamChangelogTail.MvT -> (StreamChangelogTail.ManifestT, 3)))
  }

  test("q329 delete compaction: the read is byte-stable through the " +
      "compacted artifacts, inert rows drop exactly, and both the " +
      "artifact and data tables end vacuumed") {
    // sf0.01 like q317's spec: at sf0.001 the post-fold live scope is
    // EMPTY (zero d1 rows outside c1's span), so the consolidated
    // batch writes no partition — correct, but nothing to assert on
    val report = TableFormat.q329DeleteArtifactCompaction(spark, sf01)
      .collect().map(r => r.getString(0) -> r).toMap
    val (before, after) = (report("before"), report("after"))
    // byte-stability of the read is also in the hash; pin it here
    assert(before.getLong(5) == after.getLong(5))
    assert(before.getDouble(6) == after.getDouble(6))
    // exactly one consolidated batch partition remains on disk
    val bparts = spark.sql(s"SHOW PARTITIONS ${TableFormat.DmDeletes}")
      .collect().map(_.getString(0)).toSet
    assert(bparts == Set("dbatch=dc0"), bparts.toString)
    // manifests collapsed to the compacted version only
    assert(spark.table(TableFormat.DmDManifest).count() == 1)
    assert(spark.table(TableFormat.DmManifest).select(col("version"))
      .distinct().collect().map(_.getInt(0)).toSet == Set(7))
    // inert-row accounting: surviving artifact rows == d1 rows whose
    // target segment is still live (re-derived from predicates)
    val live = Tables.orders(spark, sf01)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp"))
    val keep = live.filter(col("o_orderkey") % 1000 === 41 &&
      (col("o_orderdate") < lit("1997-01-01").cast("timestamp") ||
        col("o_orderdate") >= lit("1999-01-01").cast("timestamp")))
      .count()
    assert(after.getLong(3) == keep,
      s"artifact rows ${after.getLong(3)} vs live-scope $keep")
    assert(spark.table(TableFormat.DmDeletes).count() == keep)
    // the data-side vacuum reclaimed the expired versions' segments
    val dparts = spark.sql(s"SHOW PARTITIONS ${TableFormat.DmData}")
      .collect().map(_.getString(0).stripPrefix("commit_id=")).toSet
    assert(dparts == Set("c0_rw", "c1_f", "c2"), dparts.toString)
  }

  test("q330 branch-aware vacuum: the branch pins its segment through " +
      "expiry, dropping the ref reclaims exactly it, and the ref log " +
      "stays append-only") {
    val rows = TableFormat.q330BranchAwareVacuum(spark, sf).collect()
    val p1 = rows.filter(_.getString(0) == "p1_branch_live")
      .map(r => r.getString(1) -> r).toMap
    assert(p1("c0").getString(3) == "retained_by_branch")
    assert(p1("c0").getLong(4) == p1("c0").getLong(2),
      "phase 1 must leave the branch-pinned segment on disk, whole")
    val p2 = rows.filter(_.getString(0) == "p2_branch_dropped")
      .map(r => r.getString(1) -> r).toMap
    assert(p2("c0").getString(3) == "reclaimed")
    assert(p2("c0").getLong(4) == 0L)
    val parts = spark.sql(s"SHOW PARTITIONS ${TableFormat.BvData}")
      .collect().map(_.getString(0)).toSet
    assert(parts == Set("commit_id=c0_rw", "commit_id=c1",
      "commit_id=c2"), parts.toString)
    // drop was a tombstone APPEND: 2 init rows + 1 tombstone
    assert(TableFormat.liveRefVersions(spark, TableFormat.BvRefs) ==
      Map("main" -> 3))
    assert(spark.table(TableFormat.BvRefs).count() == 3)
    // main still reads whole after both passes
    val expect = Tables.orders(spark, sf)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp"))
      .count()
    assert(TableFormat.readVersion(spark, TableFormat.BvData,
      TableFormat.BvManifest, 3).count() == expect)
  }

  test("q331 bloom lookup: the pruned read lists exactly the " +
      "bloom-selected files, far fewer than all") {
    val row = TableFormat.q331BloomPointLookup(spark, sf01)
      .collect().head
    val (total, selected) = (row.getLong(0), row.getLong(1))
    assert(selected < total, s"bloom selected $selected of $total")
    assert(row.getLong(2) == 1L, "the key lives in exactly one file")
    assert(row.getLong(5) == 1L, "the point row must be found")
    // physical half: re-derive the candidate set from the PERSISTED
    // bloom artifact and assert the scan lists exactly those files
    val rpf = spark.table(TableFormat.ZManifest)
      .agg(max(col("n_rows"))).collect().head.getLong(0)
    val m = TableFormat.bloomWords(rpf) * 32
    val bits = TableFormat
      .bloomBitPositions(TableFormat.BloomProbeKey, m)
      .map(p => (p / 32, 1L << (p % 32).toInt)).distinct
    import spark.implicits._
    val cands = spark.table(TableFormat.BfManifest)
      .join(broadcast(bits.toDF("word", "mask")), Seq("word"))
      .filter((col("bits").bitwiseAND(col("mask"))) =!= lit(0L))
      .groupBy(col("zfile")).agg(count(lit(1)).as("nb"))
      .filter(col("nb") === bits.size)
      .select(col("zfile")).collect().map(_.getInt(0)).toSeq
    assert(cands.size.toLong == selected)
    val probe = spark.table(TableFormat.ZData)
      .filter(col("zfile").isin(cands: _*))
    probe.collect()
    assert(scansOf(probe, TableFormat.ZData).head
      .metrics("numPartitions").value == selected)
  }

  test("q336 incremental layout maintenance reads only the fresh " +
      "files, its manifests equal the rebuild, and the point key " +
      "resolves into a BATCH file through the appended bloom rows") {
    val row = TableFormat.q336IncrementalLayoutMaintenance(spark, sf01)
      .collect().head
    val (nStd, nBat) = (row.getLong(0), row.getLong(1))
    assert(nBat > 0, "the batch must land as at least one new file")
    assert(row.getBoolean(2) && row.getBoolean(3),
      "incremental manifests must equal the from-scratch rebuild")
    // the maintenance read is fresh-partitions-only — asserted
    // through the SAME shared definition the job consumed
    val fresh = TableFormat.imFreshFiles(spark, nStd)
    fresh.collect()
    val scans = scansOf(fresh, TableFormat.ImData)
    assert(scans.nonEmpty)
    assert(scans.head.metrics("numPartitions").value == nBat,
      s"fresh read touched ${scans.head.metrics("numPartitions").value}" +
        s" partitions, batch has $nBat files")
    assert(spark.sql(s"SHOW PARTITIONS ${TableFormat.ImData}")
      .count() == nStd + nBat)
    // the probe key (97, mod-10 class 7) lives in the BATCH — the
    // lookup that found it went through incrementally-appended rows
    val keyFiles = spark.table(TableFormat.ImData)
      .filter(col("p_partkey") === TableFormat.BloomProbeKey)
      .select(col("zfile")).distinct().collect().map(_.getInt(0))
    assert(keyFiles.nonEmpty && keyFiles.forall(_ >= nStd),
      s"key files ${keyFiles.mkString(",")} vs standing count $nStd")
    assert(row.getLong(8) >= 1, "the point row must be found")
    // box probe is physically pruned to the merged-manifest overlap
    val boxFiles = TableFormat.overlappingFiles(
        spark.table(TableFormat.ImManifest), TableFormat.ZBox)
      .select(col("zfile")).collect().map(_.getInt(0)).toSeq
    assert(boxFiles.size.toLong == row.getLong(4))
    val probe = spark.table(TableFormat.ImData)
      .filter(col("zfile").isin(boxFiles: _*))
    probe.collect()
    assert(scansOf(probe, TableFormat.ImData).head
      .metrics("numPartitions").value == boxFiles.size.toLong)
  }

  test("q332 optimize packs and clusters in one rewrite: the file " +
      "count shrinks, the probe collapses from scan-everything, the " +
      "slice is unmoved, and the optimized probe is physically " +
      "pruned") {
    val rows = TableFormat.q332CompactCluster(spark, sf01).collect()
      .map(r => r.getString(0) -> r).toMap
    val (b, a) = (rows("before"), rows("after"))
    assert(b.getLong(3) == a.getLong(3))
    assert(b.getDouble(4) == a.getDouble(4))
    assert(a.getLong(1) < b.getLong(1), "packing must shrink files_total")
    assert(a.getLong(2) < b.getLong(2), "clustering must shrink the probe")
    // the strawman is honest: hash-scrambled arrival order bounds
    // neither dimension, so the before-layout prunes nothing
    assert(b.getLong(2) == b.getLong(1),
      s"before-layout pruned ${b.getLong(1) - b.getLong(2)} files")
    // physical: a fresh probe of the optimized layout lists exactly
    // the manifest-overlap set
    val probe = spark.table(TableFormat.OcOptData)
      .filter(col("zfile").isin(
        TableFormat.overlappingFiles(
          spark.table(TableFormat.OcOptManifest), TableFormat.ZBox)
          .select(col("zfile")).collect().map(_.getInt(0)).toSeq: _*))
    probe.collect()
    assert(scansOf(probe, TableFormat.OcOptData).head
      .metrics("numPartitions").value == a.getLong(2))
  }

  test("q333 version binding: the serving gate actually fails on a " +
      "stale artifact, freshness is commit-set (not version-number) " +
      "equality, and the binding log fails loudly when corrupt") {
    val out = TableFormat.q333ArtifactVersionBinding(spark, sf)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r).toMap
    // the query's own record of the lag: +1 fresh / −1 retired
    val p1mv = out(("p1_stale", "customer_mv"))
    assert(!p1mv.getBoolean(6) && p1mv.getLong(4) == 1L &&
      p1mv.getLong(5) == 1L, p1mv.toString)
    assert(out(("p2_refreshed", "customer_mv")).getBoolean(6))

    val (bt, mf) = (TableFormat.VbBindings, "graft_snap_manifest_vb")
    // the gate, both directions, independent of the in-query check:
    // rebinding the MV at v2 makes it refuse; at v3 it serves
    TableFormat.bindArtifact(spark, bt, TableFormat.VbMv, mf, 2)
    val ex = intercept[IllegalStateException] {
      TableFormat.requireFresh(spark, bt, TableFormat.VbMv)
    }
    assert(ex.getMessage.contains("STALE"), ex.getMessage)
    TableFormat.bindArtifact(spark, bt, TableFormat.VbMv, mf, 3)
    TableFormat.requireFresh(spark, bt, TableFormat.VbMv)

    // commit-set freshness: a metadata-only version bump (same
    // segments, new version number) must NOT invalidate the artifact
    import spark.implicits._
    TableFormat.commitsOf(spark, mf, 3).toSeq.sorted.map((4, _))
      .toDF("version", "commit_id").write.insertInto(mf)
    TableFormat.requireFresh(spark, bt, TableFormat.VbMv)
    val meta = TableFormat.certifyArtifacts(spark, bt)
      .find(_.artifact == TableFormat.VbMv).get
    assert(meta.boundVersion == 3 && meta.headVersion == 4 &&
      meta.isFresh, meta.toString)
    // ...while a version that adds a segment DOES invalidate it
    (TableFormat.commitsOf(spark, mf, 4).toSeq.sorted :+ "c9")
      .map((5, _)).toDF("version", "commit_id").write.insertInto(mf)
    intercept[IllegalStateException] {
      TableFormat.requireFresh(spark, bt, TableFormat.VbMv)
    }

    // a duplicated seq is a corrupt log and must surface, not be
    // masked by a max() lookup
    val dupSeq = spark.table(bt).agg(max(col("seq")))
      .collect().head.getInt(0)
    Seq((TableFormat.VbMv, mf, 5, dupSeq))
      .toDF("artifact", "manifest_table", "bound_version", "seq")
      .write.insertInto(bt)
    intercept[IllegalArgumentException] {
      TableFormat.latestBindings(spark, bt)
    }
    // an unbound artifact refuses to serve too
    TableFormat.initBindings(spark, bt)
    intercept[IllegalStateException] {
      TableFormat.requireFresh(spark, bt, TableFormat.VbMv)
    }
  }

  test("q334 consumer-pinned retention: the pin holds exactly while " +
      "the consumer lags, and a binding-blind vacuum silently " +
      "corrupts the consumer's next refresh") {
    import org.apache.spark.sql.SaveMode
    val rows = TableFormat.q334ConsumerPinnedRetention(spark, sf)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r).toMap
    assert(rows(("p1_lagging", "v2")).getString(2) ==
      "pinned_by_consumer")
    assert(rows(("p1_lagging", "c0")).getString(2) == "on_disk")
    assert(rows(("p2_caught_up", "c0")).getString(2) == "reclaimed")
    // physical end state: only the head survives both passes
    val data = "graft_snap_data_pr"
    val parts = spark.sql(s"SHOW PARTITIONS $data")
      .collect().map(_.getString(0)).toSet
    assert(parts == Set("commit_id=c0_rw", "commit_id=c1",
      "commit_id=c2"), parts.toString)
    assert(spark.table("graft_snap_manifest_pr").select(col("version"))
      .distinct().collect().map(_.getInt(0)).toSet == Set(3))

    // the counterexample the pin exists for: same fixture, but the
    // vacuum ignores the binding log and reclaims c0 while the
    // consumer is still bound at v2 — the next fold's '−' side
    // silently reads nothing and the refreshed view is WRONG, with
    // no error raised anywhere
    import spark.implicits._
    val (dx, mfx, _) = TableFormat.buildSnapshots(spark, sf, "_prx")
    val mvx = "graft_mv_cust_orders_prx"
    graft.operators.Scale.dropManaged(spark, mvx)
    TableFormat.readVersion(spark, dx, mfx, 2)
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).as("sum_price"))
      .write.mode(SaveMode.Overwrite).saveAsTable(mvx)
    val headCommits = TableFormat.commitsOf(spark, mfx, 3)
    val onDisk = spark.sql(s"SHOW PARTITIONS $dx").collect()
      .map(_.getString(0).stripPrefix("commit_id=")).toSet
    (onDisk -- headCommits).toSeq.sorted.foreach { c =>
      spark.sql(
        s"ALTER TABLE $dx DROP IF EXISTS PARTITION (commit_id='$c')")
    }
    val broken = TableFormat.mvApplyDelta(spark.table(mvx),
      TableFormat.mvSignedDelta(spark, dx, mfx, 2, 3))
      .select(col("o_custkey"), col("n_orders"),
        col("sum_price").cast("double").as("sp"))
    val recompute = TableFormat.readVersion(spark, dx, mfx, 3)
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)"))
          .cast("decimal(28,2)").cast("double").as("sp"))
    assert(broken.exceptAll(recompute).count() > 0,
      "a binding-blind vacuum should have corrupted the fold — if " +
        "this ever passes, the pin is no longer load-bearing")
  }

  test("q335 cross-table transaction: a torn pair breaks the " +
      "invariant the catalog protects, the abort leaves zero " +
      "residue on both tables, and the catalog CAS fails loudly on " +
      "a stale head") {
    TableFormat.q335CrossTableTransaction(spark, sf).collect()
    // the catalog only ever lists consistent pairs — two versions,
    // two rows each, and no row pairs A@2 with B@1 or A@1 with B@2
    val cat = spark.table(TableFormat.XtCatalog).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getInt(2)))
    assert(cat.map(_._1).toSet == Set(1, 2), cat.mkString(","))
    // exactly one (table, version) row per table per catalog
    // version — toSet/toMap dedup, so pin the raw row count too
    assert(cat.length == 4, cat.mkString(","))
    assert(TableFormat.xtResolve(spark, 1) == Map("A" -> 1, "B" -> 1))
    assert(TableFormat.xtResolve(spark, 2) == Map("A" -> 2, "B" -> 2))
    // the TORN pair (A@2, B@1... and A@1, B@2): each table is
    // internally consistent, but the cross-table invariant breaks —
    // the orphan count the catalog's atomicity exists to make
    // impossible
    val aV1 = TableFormat.readVersion(spark, TableFormat.XtAData,
      TableFormat.XtAManifest, 1).select(col("o_orderkey"))
    val bV2 = TableFormat.readVersion(spark, TableFormat.XtBData,
      TableFormat.XtBManifest, 2).select(col("l_orderkey"))
    val torn = bV2.join(aV1.select(col("o_orderkey")
      .as("l_orderkey")), Seq("l_orderkey"), "left_anti").count()
    assert(torn > 0, "the torn pair should dangle — if this ever " +
      "passes, the atomicity demonstration is vacuous")
    // abort residue: txn2's staged commits are gone from disk and
    // from both manifests
    val aParts = spark.sql(s"SHOW PARTITIONS ${TableFormat.XtAData}")
      .collect().map(_.getString(0)).toSet
    val bParts = spark.sql(s"SHOW PARTITIONS ${TableFormat.XtBData}")
      .collect().map(_.getString(0)).toSet
    assert(aParts == Set("commit_id=a_base", "commit_id=a_t1"), aParts)
    assert(bParts == Set("commit_id=b_base", "commit_id=b_t1"), bParts)
    assert(spark.table(TableFormat.XtAManifest).select(col("version"))
      .distinct().collect().map(_.getInt(0)).toSet == Set(1, 2))
    assert(spark.table(TableFormat.XtBManifest).select(col("version"))
      .distinct().collect().map(_.getInt(0)).toSet == Set(1, 2))
    // the CAS premise: publishing against a stale head must fail
    // loudly, not silently fork the catalog
    val ex = intercept[IllegalArgumentException] {
      TableFormat.xtCommitPair(spark, 1, 2, 2)
    }
    assert(ex.getMessage.contains("CAS failed"), ex.getMessage)
    assert(TableFormat.xtHead(spark) == 2,
      "a failed CAS must not have appended")
  }

  test("q339 the two delete-artifact kinds compose: the fold applied " +
      "exactly what the artifacts said, rewritten segments get fresh " +
      "ordinals, and anti-join order is immaterial") {
    import graft.operators.PositionDeletes
    PositionDeletes.q339PositionDeletes(spark, sf).collect()
    // v3 (read through mixed artifacts) ≡ v4 (read through the fold),
    // row for row — the fold's whole contract
    val (v3, _, _) = PositionDeletes.pdRead(spark, 3)
    val (v4, eq4, pos4) = PositionDeletes.pdRead(spark, 4)
    val cols = Seq("o_orderkey", "o_custkey", "o_totalprice",
      "o_orderdate").map(col)
    assert(v3.select(cols: _*).exceptAll(v4.select(cols: _*)).isEmpty &&
      v4.select(cols: _*).exceptAll(v3.select(cols: _*)).isEmpty,
      "fold changed content")
    // position artifacts go inert with their segment; equality rows
    // targeting the surviving segments stay live
    assert(pos4.count() == 0, "old position deletes must be inert " +
      "after the rewrite — a new file's ordinals are its own")
    assert(eq4.select(col("target_commit")).distinct().collect()
      .map(_.getString(0)).toSet.subsetOf(Set("c0", "c2")))
    // fresh ordinals: dense 0..n-1 in the rewritten segment
    val f = spark.table(PositionDeletes.PdData)
      .filter(col("commit_id") === "c1_f")
    val n = f.count()
    assert(f.agg(min(col("pos")), max(col("pos"))).collect().head
      .toSeq == Seq(0L, n - 1))
    assert(f.select(col("pos")).distinct().count() == n)
    // composition is set-minus: applying pos-then-eq equals the read
    // path's eq-then-pos
    val (_, eq3, pos3) = PositionDeletes.pdRead(spark, 3)
    val flipped = spark.table(PositionDeletes.PdData)
      .filter(col("commit_id").isin("c0", "c1", "c2"))
      .join(broadcast(pos3), col("pos") === col("del_pos") &&
        col("commit_id") === col("target_commit"), "left_anti")
      .join(broadcast(eq3), col("o_orderkey") === col("del_key") &&
        col("commit_id") === col("target_commit"), "left_anti")
    assert(flipped.count() == v3.count())
  }

  test("q340 a torn refresh (one table's delta only) is wrong AND " +
      "stays blocked by the binding gate; the full fold passes") {
    import graft.operators.CrossTableMv
    CrossTableMv.q340CrossTableMv(spark, sf).collect()
    // rebuild the lifecycle to the torn point: MV bound at cat_v1
    CrossTableMv.buildCatalog(spark, sf)
    graft.operators.Scale.dropManaged(spark, CrossTableMv.XmMv)
    TableFormat.initBindings(spark, CrossTableMv.XmBindings)
    CrossTableMv.recomputeAt(spark, 1).localCheckpoint()
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .saveAsTable(CrossTableMv.XmMv)
    TableFormat.bindArtifact(spark, CrossTableMv.XmBindings,
      CrossTableMv.XmMv, CrossTableMv.XmCatalog, 1)
    // the torn fold for cat_v1→cat_v2: ΔA⋈B_old ONLY (a refresher
    // that crashed before — or never implemented — the A_new⋈ΔB term)
    import graft.functions.Cols.dec
    val pair1 = CrossTableMv.resolve(spark, 1)
    val pair2 = CrossTableMv.resolve(spark, 2)
    val dA = CrossTableMv.signedChurn(spark, CrossTableMv.XmAData,
      CrossTableMv.XmAManifest, pair1("A"), pair2("A"))
      .select(col("o_orderkey"), col("o_custkey"), col("sgn"))
    val term1 = CrossTableMv.bAt(spark, pair1("B"))
      .select(col("l_orderkey"), col("l_extendedprice"))
      .join(broadcast(dA), col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_custkey"))
      .agg(sum(col("sgn")).as("dn"),
        sum(col("sgn") * dec(col("l_extendedprice"))).as("dp"))
    val torn = spark.table(CrossTableMv.XmMv)
      .join(term1, Seq("o_custkey"), "full_outer")
      .select(col("o_custkey"),
        (coalesce(col("n_items"), lit(0L)) +
          coalesce(col("dn"), lit(0L))).as("n_items"),
        (coalesce(col("revenue"), lit(0).cast("decimal(28,2)")) +
          coalesce(col("dp"), lit(0).cast("decimal(28,2)")))
          .cast("decimal(28,2)").as("revenue"))
      .filter(col("n_items") > 0).localCheckpoint()
    // torn state ≠ cat_v2 recompute (ΔA joined B_old, which lacks
    // the paired b_c2 lineitems — the shifted orders got 0 items)
    val rec2 = CrossTableMv.recomputeAt(spark, 2)
    assert(torn.exceptAll(rec2).count() > 0 ||
      rec2.exceptAll(torn).count() > 0,
      "the torn fold should be WRONG — if it equals the recompute, " +
        "the demonstration is vacuous")
    // and because the crash happened before the rebind, the gate
    // still refuses to serve — the wrong state is unreachable
    torn.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .saveAsTable(CrossTableMv.XmMv)
    intercept[IllegalStateException] {
      CrossTableMv.requireCatFresh(spark)
    }
    // a binding for the WRONG source (not the catalog) must also
    // refuse: the gate demands a catalog-bound stamp
    TableFormat.bindArtifact(spark, CrossTableMv.XmBindings,
      CrossTableMv.XmMv, CrossTableMv.XmAManifest, 2)
    intercept[IllegalStateException] {
      CrossTableMv.requireCatFresh(spark)
    }
  }

  test("q341 rewrite maintenance is fresh-files-only and the " +
      "maintained metadata prunes physically") {
    val rep = TableFormat.q341RewriteLayoutMaintenance(spark, sf01)
      .collect().head
    // the rewritten partitions are GONE (retire = directory delete)
    val parts = spark.sql(s"SHOW PARTITIONS ${TableFormat.RmData}")
      .collect().map(_.getString(0).stripPrefix("zfile=").toInt)
    assert(parts.forall(f => f >= 32 && f < 100000 || f >= 100000),
      s"old pack partitions survive: ${parts.filter(_ < 32).toSeq}")
    // the increment's input reads exactly the fresh partitions
    val freshRead = TableFormat.rmFreshFiles(spark)
    freshRead.collect()
    val scans = scansOf(freshRead, TableFormat.RmData)
    assert(scans.head.metrics("numPartitions").value ==
      rep.getAs[Long]("files_new"))
    // the optimization was worth running: the box probe scans fewer
    // files than the table holds (the rewritten pack prunes)
    val total = spark.table(TableFormat.RmManifest).count()
    assert(rep.getAs[Long]("box_files_scanned") < total,
      s"box scans all $total files — rewrite bought nothing")
    // physical half: a fresh pruned probe reads exactly the
    // manifest-selected partitions
    val files = TableFormat.overlappingFiles(
        spark.table(TableFormat.RmManifest), TableFormat.ZBox)
      .select(col("zfile")).collect().map(_.getInt(0)).toSeq
    val probe = spark.table(TableFormat.RmData)
      .filter(col("zfile").isin(files: _*))
    probe.collect()
    assert(scansOf(probe, TableFormat.RmData).head
      .metrics("numPartitions").value == files.size)
  }

  test("q342 the planner is metadata-only, and executing its top " +
      "item moves the certified metric by what it predicted") {
    import graft.operators.MaintenancePlanner
    MaintenancePlanner.buildFixture(spark, sf01)
    val before = MaintenancePlanner.plan(spark).collect()
    // metadata-only: the plan must be computable with the DATA gone
    graft.operators.Scale.dropManaged(spark, MaintenancePlanner.MpData)
    val blind = MaintenancePlanner.plan(spark).collect()
    assert(blind.map(_.toString).toSeq ==
      before.map(_.toString).toSeq,
      "planner output changed when the data table vanished — it " +
        "must be reading metadata only")
    // execute the top item: recluster s2 (rebuild the fixture first)
    MaintenancePlanner.buildFixture(spark, sf01)
    val top = before.head
    assert(top.getAs[String]("segment") == "s2" &&
      top.getAs[String]("verb") == "recluster", top.toString)
    val predicted = top.getAs[Double]("expected_benefit")
    val oldFrac = top.getAs[Double]("metric")
    // the rewrite: s2's rows re-cut along the key (the q341 unit)
    val mf = spark.table(MaintenancePlanner.MpManifest)
    val rpf = math.max(64L,
      (mf.agg(sum(col("n_rows"))).collect().head.getLong(0) + 63) / 64)
    val hi = mf.agg(max(col("max_k"))).collect().head.getLong(0) / 10
    val rewritten = graft.operators.Scale.globalIndex(
        spark.table(MaintenancePlanner.MpData)
          .filter(col("segment") === "s2")
          .withColumn("skey", col("o_orderkey")),
        col("skey").asc, col("o_orderkey").asc)
      .select(col("o_orderkey"),
        format_string("s2r_%d", expr(s"(rank - 1) div $rpf"))
          .as("seg_file"))
      .groupBy(col("seg_file"))
      .agg(count(lit(1)).as("n_rows"), min(col("o_orderkey")).as("mn"),
        max(col("o_orderkey")).as("mx"))
    val after = rewritten.agg(
      (sum(when(col("mn") <= hi, 1L).otherwise(0L)).cast("double") /
        count(lit(1)).cast("double")).as("frac"),
      count(lit(1)).as("files")).collect().head
    val newFrac = after.getDouble(0)
    val files = after.getLong(1)
    val improvement = oldFrac - newFrac
    assert(improvement >= predicted - 2.0 / files.toDouble,
      s"predicted $predicted, delivered $improvement " +
        s"(old $oldFrac -> new $newFrac over $files files)")
  }

  test("q343 the SQL version read is dynamically partition-pruned: " +
      "the optimizer turns WHERE version = n into a runtime commit " +
      "filter on the partitioned scan") {
    TableFormat.q343SqlTimeTravel(spark, sf).collect()
    val df = spark.sql(s"SELECT * FROM ${TableFormat.SqView} " +
      "WHERE version = 1")
    df.collect()
    val scans = scansOf(df, TableFormat.SqData)
    assert(scans.nonEmpty)
    assert(scans.head.partitionFilters.exists(
      _.toString.toLowerCase.contains("dynamicpruning")),
      s"no dynamic pruning on the data scan:\n" +
        scans.head.partitionFilters.mkString("\n"))
    val commits = TableFormat.commitsOf(spark,
      TableFormat.SqManifest, 1)
    assert(scans.head.metrics("numPartitions").value == commits.size,
      s"read ${scans.head.metrics("numPartitions").value} " +
        s"partitions, v1 lists ${commits.size} commits")
  }

  test("a raced log append RECOVERS (r12 verdict #6): the CAS loser " +
      "commits nothing, rebases on the fresh head, and both writers " +
      "land — seq dense, no duplicate, no manual retry") {
    import spark.implicits._
    val refsT = "graft_refs_race_spec"
    TableFormat.initRefs(spark, refsT, Seq(("main", 3))) // seq 1
    // the race window: writer A captures seq 2 and stages its row;
    // BEFORE A publishes, writer B runs a complete append and wins
    // seq 2. A's partition registration must fail with NOTHING of
    // A's visible, and A must rebase and land at seq 3.
    var interleaved = false
    TableFormat.setRef(spark, refsT, "main", 4, { _ =>
      if (!interleaved) {
        interleaved = true
        TableFormat.setRef(spark, refsT, "exp", 9)
      }
    })
    assert(interleaved, "race window hook never fired")
    val rows = spark.table(refsT)
      .select(col("seq"), col("ref"), col("version")).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getInt(2))).sorted
    assert(rows.map(_._1).toSeq == Seq(1, 2, 3),
      s"seq not dense after race recovery: ${rows.toSeq}")
    assert(rows.toSeq == Seq((1, "main", 3), (2, "exp", 9),
      (3, "main", 4)), rows.toSeq.toString)
    // both intents are live at their latest seq
    assert(TableFormat.refVersion(spark, refsT, "main").contains(4))
    assert(TableFormat.refVersion(spark, refsT, "exp").contains(9))
    // reader defense in depth: a writer that BYPASSES the CAS and
    // lands a second file inside an existing seq partition still
    // fails loudly at latestBySeq (the r10 contract) — corruption
    // can't silently resolve to a max()
    Seq(("main", 5, true, 3)).toDF("ref", "version", "live", "seq")
      .write.insertInto(refsT)
    val e2 = intercept[IllegalArgumentException] {
      TableFormat.refVersion(spark, refsT, "main")
    }
    assert(e2.getMessage.contains("corrupt"), e2.getMessage)
  }

  test("q344 executing the whole plan leaves no work: a re-plan on " +
      "the post-maintenance metadata fires no verb") {
    import graft.operators.MaintenancePlanner
    MaintenancePlanner.q344ExecutePlan(spark, sf01).collect()
    val replan = MaintenancePlanner.plan(spark).collect()
    assert(replan.forall(_.getAs[String]("verb") == "none"),
      s"planner still finds work after execution:\n" +
        replan.mkString("\n"))
    // and the fold really consumed the ledger
    assert(spark.table(MaintenancePlanner.MpDeletes).count() == 0)
  }

  test("q345 the CDF consumer stamps each version exactly once " +
      "(replay-guarded) and its final state matches the merge-on-" +
      "read recompute bit-for-bit") {
    import graft.operators.CdcUpsert
    import graft.streaming.StreamCdfConsumer
    val pom = "spark.sql.sources.partitionOverwriteMode"
    val pomBefore = spark.conf.get(pom)
    StreamCdfConsumer.q345StreamCdfConsumer(spark, sf).collect()
    assert(spark.conf.get(pom) == pomBefore,
      "the consumer changed the session's partition overwrite mode")
    val stamps = spark.table(StreamCdfConsumer.BindingsT)
      .filter(col("artifact") === StreamCdfConsumer.MvT)
      .groupBy(col("bound_version")).count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(stamps == Map(2 -> 1L, 3 -> 1L, 4 -> 1L), stamps.toString)
    val mv4 = spark.table(StreamCdfConsumer.MvT)
      .filter(col("mv_version") === 4)
      .select(col("o_custkey"), col("n_orders"),
        col("sum_price").cast("decimal(28,2)").as("sum_price"))
    val rec = CdcUpsert.readState(spark, 4)._1
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)"))
          .cast("decimal(28,2)").as("sum_price"))
      .localCheckpoint()
    assert(mv4.exceptAll(rec).isEmpty && rec.exceptAll(mv4).isEmpty,
      "streaming CDF state diverges from the MoR recompute")
    // the MV table carries its overwrite policy: under the session's
    // own static mode, a plain overwriting insertInto of version 4
    // (as a consumer restarted outside the operator would write it)
    // replaces that partition only — every other version survives
    assert(pomBefore.equalsIgnoreCase("static"), pomBefore)
    def rowsPerVersion() = spark.table(StreamCdfConsumer.MvT)
      .groupBy(col("mv_version")).count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val perVersion = rowsPerVersion()
    assert(perVersion.keySet == Set(1, 2, 3, 4), perVersion.toString)
    rec.withColumn("mv_version", lit(4))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .insertInto(StreamCdfConsumer.MvT)
    assert(rowsPerVersion() == perVersion)
    assert(spark.conf.get(pom) == pomBefore)
  }

  test("q311 seeds stay pinned and coverage is monotone in rounds") {
    val byRounds = (1 to 3).map { r =>
      val out = GraphOps.labelPropagate(spark, sf01, r).collect()
      out.foreach { row =>
        if (row.getLong(0) % 5 == 0)
          assert(row.getString(2) == "seed", row.toString)
      }
      out.count(r => r.getString(2) == "prop")
    }
    assert(byRounds(0) <= byRounds(1) && byRounds(1) <= byRounds(2),
      byRounds.toString)
  }

  test("q318 bounds the live-commit literal (r12 scale-watch #1): " +
      "after compaction the head version lists ceil(n/packSize) " +
      "commits, so the isin literal a reader inlines is bounded by " +
      "maintenance cadence, not by commit history") {
    TableFormat.q318CommitCompaction(spark, sf01).collect()
    val head = TableFormat.headVersion(spark, TableFormat.CpManifest)
    val packedLive = TableFormat.commitsOf(spark,
      TableFormat.CpManifest, head)
    val smallLive = TableFormat.commitsOf(spark,
      TableFormat.CpManifest, head - 1)
    assert(smallLive.forall(_.startsWith("s")))
    assert(packedLive.forall(_.startsWith("p")),
      s"head still lists small commits: $packedLive")
    val bound = math.ceil(
      smallLive.size.toDouble / TableFormat.CpPackSize).toInt
    assert(packedLive.size == bound,
      s"live set ${packedLive.size} != ceil(${smallLive.size}/" +
        s"${TableFormat.CpPackSize}) = $bound")
    assert(packedLive.size < smallLive.size)
  }

  test("q350 string zone-map: a source-equality probe reads exactly " +
      "the stats-overlapping files (a strict subset), the truncated " +
      "src12 probe keeps the whole src1* prefix class, and the fresh " +
      "prefix probe reads only the appended files") {
    import graft.operators.StringZonemap
    StringZonemap.build(spark, sf01)
    val total = spark.table(StringZonemap.SzManifest).count()

    def partsRead(p: StringZonemap.Probe): (Long, Long) = {
      val df = StringZonemap.prunedRead(spark, p)
        .agg(count(lit(1)))
      df.collect()
      val scans = scansOf(df, StringZonemap.SzData)
      assert(scans.nonEmpty, df.queryExecution.executedPlan.toString)
      (scans.head.metrics("numPartitions").value,
        StringZonemap.overlappingFiles(spark, p).size.toLong)
    }

    val bySrc7 = StringZonemap.probes.find(_.label == "eq_source_src7").get
    val (read7, overlap7) = partsRead(bySrc7)
    assert(read7 == overlap7, s"read $read7, manifest says $overlap7")
    assert(read7 < total, s"src7 probe read all $total files - no pruning")

    // truncation is conservative, never wrong: the src12 probe's
    // file set must contain every file holding any src1* source
    val by12 = StringZonemap.probes.find(_.label == "eq_source_src12").get
    val kept12 = StringZonemap.overlappingFiles(spark, by12).toSet
    val filesWithSrc1Class = spark.table(StringZonemap.SzData)
      .filter(StringZonemap.truncc(col("source")) === "src1")
      .select(col("zfile")).distinct().collect().map(_.getInt(0)).toSet
    assert(filesWithSrc1Class.subsetOf(kept12),
      s"truncated bound dropped files: ${filesWithSrc1Class -- kept12}")

    // the fresh feed's namespace reads only the appended files
    val byZz = StringZonemap.probes.find(_.label == "fresh_prefix_zz").get
    val keptZz = StringZonemap.overlappingFiles(spark, byZz).toSet
    val freshFiles = spark.table(StringZonemap.SzData)
      .filter(col("source").startsWith("zz"))
      .select(col("zfile")).distinct().collect().map(_.getInt(0)).toSet
    assert(keptZz == freshFiles,
      s"fresh probe kept $keptZz, fresh files are $freshFiles")
    val (readZz, overlapZz) = partsRead(byZz)
    assert(readZz == overlapZz && readZz < total)
  }
}
