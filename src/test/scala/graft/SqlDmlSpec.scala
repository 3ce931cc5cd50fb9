package graft

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SqlDml
import graft.sources.{RloMeta, RloScan}

/** Physical contracts of the SQL write-DML tier (q346–q349): the
  * copy-on-write replaces EXACTLY the routed segments, carried
  * segment files never move, prior versions stay byte-stable, and
  * both pruning layers (static stats routing, runtime group
  * filtering) actually fire. The row arithmetic itself is the DuckDB
  * oracle's job — these tests pin what the oracle can't see: the
  * file system and the plan. */
class SqlDmlSpec extends AnyFunSuite {
  import TestSpark._

  private val conf = new Configuration()

  /** DML segment names carry an attempt-unique suffix (`w2-<id>`,
    * the r13 racing-writers fix); specs assert on the stable display
    * prefix. */
  private def display(commits: Iterable[String]): Set[String] =
    commits.map(_.takeWhile(_ != '-')).toSet

  private def fileStamps(root: String,
      commit: String): Seq[(String, Long, Long)] = {
    RloMeta.listDataFiles(conf, root, commit).map { p =>
      val hp = new org.apache.hadoop.fs.Path(p)
      val st = RloMeta.fs(conf, hp).getFileStatus(hp)
      (p, st.getLen, st.getModificationTime)
    }
  }

  private def rloScans(df: DataFrame): Seq[RloScan] = {
    def go(p: SparkPlan): Seq[RloScan] = p match {
      case a: AdaptiveSparkPlanExec => go(a.executedPlan)
      case q: QueryStageExec => go(q.plan)
      case b: BatchScanExec => b.scan match {
        case s: RloScan => Seq(s)
        case _ => Seq.empty
      }
      case o => o.children.flatMap(go)
    }
    go(df.queryExecution.executedPlan)
  }

  test("q346 MERGE INTO replaces exactly the runtime-routed segment: " +
      "v2 = (v1 - c1) + w2, carried files are PHYSICALLY untouched, " +
      "and version 1 re-reads byte-stable through VERSION AS OF") {
    val root = SqlDml.buildTable(spark, sf, "orders_cow_spec")
    val before = Seq("c0", "c2").map(c => c -> fileStamps(root, c)).toMap
    val v1 = spark.sql(s"SELECT COUNT(*) AS n, " +
      "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS s " +
      s"FROM ${SqlDml.Cat}.${SqlDml.Ns}.orders_cow_spec").collect().head

    SqlDml.runMerge(spark, sf, "orders_cow_spec")

    // manifest arithmetic: only c1 was replaced — the MERGE keys are
    // not a pushable predicate, so this is the runtime group filter's
    // doing; had it not fired, every segment would have been
    // rewritten into w2 and this assertion (and the oracle) fails
    assert(RloMeta.commitsOf(conf, root, 1)._2.toSet ==
      Set("c0", "c1", "c2"))
    assert(display(RloMeta.commitsOf(conf, root, 2)._2) ==
      Set("c0", "c2", "w2"))
    // physical carry: same files, same bytes, same mtimes
    Seq("c0", "c2").foreach { c =>
      assert(fileStamps(root, c) == before(c),
        s"carried segment $c files changed across the MERGE")
    }
    // history intact: version 1 still serves its original content
    val v1After = spark.sql(s"SELECT COUNT(*) AS n, " +
      "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS s " +
      s"FROM ${SqlDml.Cat}.${SqlDml.Ns}.orders_cow_spec " +
      "VERSION AS OF 1").collect().head
    assert(v1 == v1After, s"version 1 drifted: $v1 -> $v1After")
  }

  test("static stats routing prunes the plain read path too: a " +
      "date-predicate SELECT plans input partitions from only the " +
      "stats-overlapping segment") {
    SqlDml.buildTable(spark, sf, "orders_cow_prune")
    val df = spark.sql(s"SELECT o_orderkey, o_totalprice " +
      s"FROM ${SqlDml.Cat}.${SqlDml.Ns}.orders_cow_prune " +
      "WHERE o_orderdate < DATE '1996-01-01'")
    df.collect()
    val scans = rloScans(df)
    assert(scans.nonEmpty, "no RloScan in plan:\n" +
      df.queryExecution.executedPlan)
    assert(scans.head.effectiveCommits == Seq("c0"),
      s"scan planned ${scans.head.effectiveCommits}, want only c0")
    // and the pruned read returns exactly the predicate's rows
    val expect = SqlDml.ordersAsDate(spark, sf)
      .filter(col("o_orderdate") < lit("1996-01-01").cast("date"))
      .count()
    assert(df.count() == expect)
  }

  test("q349 INSERT INTO appends a segment without replacing any: " +
      "v3 carries every v2 segment plus w3") {
    graft.operators.SqlDml.q349SqlTimeTravel(spark, sf).collect()
    val root = SqlDml.tableRoot("orders_cow_tt")
    val v2 = RloMeta.commitsOf(conf, root, 2)._2.toSet
    val v3 = RloMeta.commitsOf(conf, root, 3)._2.toSet
    assert(v2.subsetOf(v3), s"append replaced segments: $v2 vs $v3")
    assert(display(v3 -- v2) == Set("w3"),
      s"unexpected appended set: ${v3 -- v2}")
    // the DELETE (v4) then replaced exactly the one dated segment
    val v4 = RloMeta.commitsOf(conf, root, 4)._2.toSet
    assert(v3 -- v4 == Set("c0"), s"DELETE replaced ${v3 -- v4}")
    assert(display(v4 -- v3) == Set("w4"), s"DELETE appended ${v4 -- v3}")
  }

  test("a version publish into a deleted table fails and does not " +
      "recreate the table's metadata directory") {
    val root = graft.Scratch.dir("rlo_dropped_cas")
    RloMeta.initTable(conf, root,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k",
          org.apache.spark.sql.types.LongType))), "k")
    assert(RloMeta.publishVersion(conf, root, 1, 0L, Seq("base")))
    val dir = java.nio.file.Paths.get(root)
    graft.Scratch.deleteRecursively(dir) // a concurrent drop
    intercept[java.nio.file.NoSuchFileException](
      RloMeta.publishVersion(conf, root, 2, 0L, Seq("late")))
    assert(!java.nio.file.Files.exists(dir),
      "the losing publish rebuilt the dropped table's directory")
  }

  test("the version-file publish is a CAS: the second publisher of " +
      "the same version loses cleanly with nothing visible") {
    val root = SqlDml.buildTable(spark, sf, "orders_cow_cas")
    assert(!RloMeta.publishVersion(conf, root, 1, 42L, Seq("evil")),
      "publishVersion overwrote an existing version file")
    // the loser's content never became visible
    assert(RloMeta.commitsOf(conf, root, 1)._2.toSet ==
      Set("c0", "c1", "c2"))
  }

  test("q354 schema evolution is metadata-only: ALTER+INSERT leaves " +
      "pre-evolution segment files untouched, and projecting ONLY " +
      "the new column over an old segment yields all-null rows with " +
      "the right count (footer-intersection read)") {
    graft.operators.SqlDml.q354SqlAddColumn(spark, sf).collect()
    val root = SqlDml.tableRoot("orders_cow_evo")
    // old segments keep their 4-column physical schema on disk
    val c0Files = RloMeta.listDataFiles(conf, root, "c0")
    assert(c0Files.nonEmpty)
    // a projection of only the NEW column over the whole table: old
    // rows null, inserted rows valued — and the count is the union
    val rows = spark.sql(s"SELECT o_channel FROM " +
      s"${SqlDml.Cat}.${SqlDml.Ns}.orders_cow_evo").collect()
    val total = SqlDml.ordersAsDate(spark, sf).count()
    val inserted = SqlDml.ordersAsDate(spark, sf)
      .filter(col("o_orderkey") % 100 === 13).count()
    assert(rows.length == total + inserted)
    assert(rows.count(_.isNullAt(0)) == total,
      "pre-evolution rows must read the new column as null")
    assert(rows.count(!_.isNullAt(0)) == inserted)
  }

  test("q355 INSERT OVERWRITE is a manifest edit: the new version " +
      "lists only the new segment, prior segments stay on disk and " +
      "version 1 still serves the full table") {
    graft.operators.SqlDml.q355SqlInsertOverwrite(spark, sf).collect()
    val root = SqlDml.tableRoot("orders_cow_ow")
    assert(display(RloMeta.commitsOf(conf, root, 2)._2) == Set("w2"))
    Seq("c0", "c1", "c2").foreach { c =>
      assert(RloMeta.listDataFiles(conf, root, c).nonEmpty,
        s"overwrite physically deleted $c — it must stay for time travel")
    }
    val v1 = spark.sql(s"SELECT COUNT(*) FROM " +
      s"${SqlDml.Cat}.${SqlDml.Ns}.orders_cow_ow VERSION AS OF 1")
      .collect().head.getLong(0)
    assert(v1 == SqlDml.ordersAsDate(spark, sf).count())
  }

  test("q356 expire+vacuum reclaims exactly the unreachable segment: " +
      "expired version files and c2's dir+stats are gone, the head " +
      "read is byte-stable across the vacuum") {
    val before = graft.operators.SqlDml.q356RloVacuum(spark, sf)
      .collect()
    val root = SqlDml.tableRoot("orders_cow_gc")
    val f = RloMeta.fs(conf, RloMeta.metaDir(root))
    // only v2 survives; c2 is physically gone, its stats file too
    assert(RloMeta.headVersion(conf, root) == 2)
    intercept[java.io.FileNotFoundException] {
      RloMeta.commitsOf(conf, root, 1)
    }
    assert(RloMeta.listDataFiles(conf, root, "c2").isEmpty)
    assert(!f.exists(new org.apache.hadoop.fs.Path(
      RloMeta.metaDir(root), "stats_c2.txt")))
    // and the head still serves exactly what the report counted
    val n = spark.sql(s"SELECT COUNT(*) FROM " +
      s"${SqlDml.Cat}.${SqlDml.Ns}.orders_cow_gc").collect()
      .head.getLong(0)
    assert(n == before.filter(_.getString(1) == "retained")
      .map(_.getLong(2)).sum)
  }

  test("q352 MERGE-ON-READ MERGE: no base segment is rewritten (all " +
      "files byte-and-mtime stable), the artifact holds exactly the " +
      "touched keys with exact segment routing, and version 1 still " +
      "serves the pre-merge content") {
    val root = SqlDml.buildTable(spark, sf, "orders_mor_spec",
      mode = "mor")
    val before = Seq("c0", "c1", "c2")
      .map(c => c -> fileStamps(root, c)).toMap
    val v1Count = spark.sql(s"SELECT COUNT(*) AS n FROM " +
      s"${SqlDml.Cat}.${SqlDml.Ns}.orders_mor_spec").collect()
      .head.getLong(0)

    SqlDml.runMerge(spark, sf, "orders_mor_spec")

    // every base segment carries; exactly one append commit arrives
    assert(display(RloMeta.commitsOf(conf, root, 2)._2) ==
      Set("c0", "c1", "c2", "w2"))
    assert(display(RloMeta.deletesOf(conf, root, 2)) == Set("d2"))
    Seq("c0", "c1", "c2").foreach { c =>
      assert(fileStamps(root, c) == before(c),
        s"MoR merge rewrote base segment $c")
    }
    // the artifact holds exactly the matched U/D keys, each routed to
    // the segment that physically holds its row (exact routing from
    // the row's _partition metadata, not stats arithmetic)
    val artifact = RloMeta.liveDeleteKeys(conf, root, 2)
    val expected = SqlDml.ordersAsDate(spark, sf)
      .filter((col("o_orderkey") % 100 === 7 ||
        col("o_orderkey") % 100 === 29) &&
        col("o_orderdate") >= lit("1997-01-01").cast("date") &&
        col("o_orderdate") < lit("1997-07-01").cast("date"))
      .select(col("o_orderkey")).collect().map(_.getLong(0)).sorted
    assert(artifact.keySet == Set("c1"),
      s"artifact targets ${artifact.keySet}, rows live only in c1")
    assert(artifact("c1").toSeq == expected.toSeq)
    // time travel unaffected: v1 has no delete batches in scope
    val v1After = spark.sql(s"SELECT COUNT(*) AS n FROM " +
      s"${SqlDml.Cat}.${SqlDml.Ns}.orders_mor_spec VERSION AS OF 1")
      .collect().head.getLong(0)
    assert(v1After == v1Count, s"v1 drifted: $v1Count -> $v1After")
  }

  test("the version-file CAS holds across OS PROCESSES, not just " +
      "threads: two racing JVMs each land 25 commits with no version " +
      "double-written and no gap (r12 'multi-process writer safety')") {
    val root = graft.Scratch.dir("rlo_two_proc")
    RloMeta.initTable(conf, root,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k",
          org.apache.spark.sql.types.LongType))), "k")
    RloMeta.publishVersion(conf, root, 1, 0L, Seq("base"))
    val perRacer = 25
    val java = s"${sys.props("java.home")}/bin/java"
    val cp = sys.props("java.class.path")
    def spawn(tag: String) =
      new ProcessBuilder(java, "-cp", cp, "graft.CasRacer", root, tag,
        perRacer.toString).redirectErrorStream(true).start()
    val (a, b) = (spawn("A"), spawn("B"))
    def drain(p: Process): String =
      new String(p.getInputStream.readAllBytes())
    val (outA, outB) = (drain(a), drain(b))
    assert(a.waitFor() == 0, s"racer A failed:\n$outA")
    assert(b.waitFor() == 0, s"racer B failed:\n$outB")
    // dense version chain, exactly one writer per version
    val head = RloMeta.headVersion(conf, root)
    assert(head == 1 + 2 * perRacer, s"head $head, want ${1 + 2 * perRacer}")
    val tags = (2 to head).map { v =>
      val (_, cs) = RloMeta.commitsOf(conf, root, v)
      assert(cs.length == 1, s"version $v lists $cs")
      cs.head.takeWhile(_ != '-')
    }
    assert(tags.count(_ == "A") == perRacer, tags.mkString(","))
    assert(tags.count(_ == "B") == perRacer, tags.mkString(","))
    // and each racer's own sequence landed in order (its k-th append
    // has a higher version than its (k-1)-th) — implied by the
    // single-writer-loop structure, asserted via per-tag suffixes
    Seq("A", "B").foreach { t =>
      val seqs = (2 to head).flatMap { v =>
        val c = RloMeta.commitsOf(conf, root, v)._2.head
        if (c.startsWith(t + "-")) Some(c.stripPrefix(t + "-").toInt)
        else None
      }
      assert(seqs == (0 until perRacer), s"$t out of order: $seqs")
    }
  }

  test("q357 sync-MERGE (NOT MATCHED BY SOURCE) correctly reads ALL " +
      "groups: every segment is replaced (v2 = {w2} alone) and " +
      "version 1 stays intact") {
    graft.operators.SqlDml.q357SqlMergeSync(spark, sf).collect()
    val root = SqlDml.tableRoot("orders_cow_sync")
    assert(display(RloMeta.commitsOf(conf, root, 2)._2) == Set("w2"),
      "BY SOURCE semantics require a full rewrite - a pruned group " +
        "would have silently kept its deleted rows")
    assert(RloMeta.commitsOf(conf, root, 1)._2.toSet ==
      Set("c0", "c1", "c2"))
  }

  test("q358 the streaming sink's exactly-once survives a LOST " +
      "checkpoint: after the double drain the version chain is dense " +
      "with one commit set per version and prefix-monotone content") {
    graft.streaming.StreamRloSink.q358StreamRloSink(spark, sf)
      .collect()
    val root = SqlDml.tableRoot("orders_stream")
    assert(RloMeta.headVersion(conf, root) == 5)
    (2 to 5).foreach { v =>
      assert(RloMeta.commitsOf(conf, root, v)._2 ==
        (0 until v - 1).map(i => s"b$i"),
        s"version $v commit set wrong")
    }
  }

  test("q359 metadata-only aggregates: the plan carries the " +
      "manifest-answered agg scan (zero data files), a WHERE falls " +
      "back to the data path, and a MoR table with live deletes " +
      "refuses the shortcut and still counts right") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    def v2Scans(df: DataFrame) = {
      def go(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[BatchScanExec] = p match {
        case a: AdaptiveSparkPlanExec => go(a.executedPlan)
        case q: QueryStageExec => go(q.plan)
        case b: BatchScanExec => Seq(b)
        case o => o.children.flatMap(go)
      }
      go(df.queryExecution.executedPlan)
    }
    val df = graft.operators.SqlDml.q359SqlStatsAgg(spark, sf)
    df.collect()
    val scans = v2Scans(df)
    assert(scans.nonEmpty && scans.forall(
      _.scan.isInstanceOf[graft.sources.RloAggScan]),
      "COUNT/MIN/MAX did not push to the manifest:\n" +
        df.queryExecution.executedPlan)
    // a filtered aggregate must NOT take the shortcut (stats cannot
    // answer it) — the data path serves it
    val filtered = spark.sql(s"SELECT COUNT(*) FROM " +
      s"${SqlDml.Cat}.${SqlDml.Ns}.orders_cow_stats " +
      "WHERE o_custkey > 0")
    filtered.collect()
    assert(v2Scans(filtered).forall(
      !_.scan.isInstanceOf[graft.sources.RloAggScan]))
    // MoR with live deletes: stats overcount, so the shortcut must
    // refuse and the data path must return the post-delete count
    SqlDml.buildTable(spark, sf, "orders_mor_agg", mode = "mor")
    spark.sql(s"DELETE FROM ${SqlDml.Cat}.${SqlDml.Ns}.orders_mor_agg " +
      "WHERE o_orderdate < DATE '1996-01-01'")
    val morCount = spark.sql(s"SELECT COUNT(*) AS n FROM " +
      s"${SqlDml.Cat}.${SqlDml.Ns}.orders_mor_agg")
    val n = morCount.collect().head.getLong(0)
    assert(v2Scans(morCount).forall(
      !_.scan.isInstanceOf[graft.sources.RloAggScan]),
      "MoR table with live deletes must not answer COUNT from stats")
    val expect = SqlDml.ordersAsDate(spark, sf)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("date"))
      .count()
    assert(n == expect, s"MoR count $n != $expect")
  }

  test("scan statistics come from the manifest: a small versioned " +
      "table joined to a big parquet fact gets BROADCAST (without " +
      "SupportsReportStatistics a v2 relation defaults to huge and " +
      "never broadcasts)") {
    SqlDml.buildTable(spark, sf, "orders_cow_bc")
    Tables.registerViews(spark, sf)
    val joined = spark.sql(s"""
      SELECT COUNT(*) FROM lineitem l
      JOIN ${SqlDml.Cat}.${SqlDml.Ns}.orders_cow_bc t
        ON l.l_orderkey = t.o_orderkey""")
    joined.collect()
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"small RLO side not broadcast:\n${plan.take(2000)}")
  }

  test("q360 OPTIMIZE (via CALL graft_rlo.system.optimize) swaps " +
      "segments without changing a byte: the packed head is one " +
      "segment, the small segments stay on disk for prior versions, " +
      "and both versions read identically") {
    graft.operators.SqlDml.q360RloOptimize(spark, sf).collect()
    val root = SqlDml.tableRoot("orders_stream")
    val head = RloMeta.headVersion(conf, root)
    val packed = RloMeta.commitsOf(conf, root, head)._2
    assert(display(packed) == Set(s"p$head"))
    // fixture-scale pack fits the target -> exactly one file
    assert(RloMeta.listDataFiles(conf, root, packed.head).size == 1)
    // smalls survive for prior versions until vacuum
    (0 until 4).foreach { i =>
      assert(RloMeta.listDataFiles(conf, root, s"b$i").nonEmpty)
    }
    // bit-equality across the swap (sum of keys is a content hash)
    def keysum(v: Int) = spark.sql(s"SELECT SUM(o_orderkey) FROM " +
      s"${SqlDml.Cat}.${SqlDml.Ns}.orders_stream VERSION AS OF $v")
      .collect().head.getLong(0)
    assert(keysum(head) == keysum(head - 1))
  }

  test("read-side range splits: a segment file larger than the " +
      "split target plans >1 input partition, and the split read " +
      "returns exactly the same rows (no loss or duplication at " +
      "range boundaries)") {
    SqlDml.buildTable(spark, sf, "orders_cow_split")
    val full = spark.sql(s"SELECT SUM(o_orderkey) AS k, COUNT(*) AS n" +
      s" FROM ${SqlDml.Cat}.${SqlDml.Ns}.orders_cow_split")
      .collect().head
    spark.conf.set("spark.graft.rlo.split.bytes", "2048")
    try {
      val df = spark.sql(s"SELECT SUM(o_orderkey) AS k, COUNT(*) AS n" +
        s" FROM ${SqlDml.Cat}.${SqlDml.Ns}.orders_cow_split")
      val res = df.collect().head
      assert(res == full, s"split read drifted: $res vs $full")
      val parts = rloScans(df).head.planInputPartitions()
      assert(parts.length > 3,
        s"want range splits beyond the 3 segment files, got " +
          s"${parts.length}")
      // a malformed target fails loudly instead of reading as 128 MB
      spark.conf.set("spark.graft.rlo.split.bytes", "abc")
      intercept[NumberFormatException](RloScan.splitBytes())
    } finally spark.conf.unset("spark.graft.rlo.split.bytes")
  }

  test("write-side file rolling: with a small target file size one " +
      "INSERT task emits multiple size-bounded files, stats intact") {
    SqlDml.buildTable(spark, sf, "orders_cow_roll")
    spark.conf.set("spark.graft.rlo.target.file.bytes", "16384")
    try {
      SqlDml.ordersAsDate(spark, sf).coalesce(1)
        .createOrReplaceTempView("roll_src")
      spark.sql(s"INSERT INTO ${SqlDml.Cat}.${SqlDml.Ns}" +
        ".orders_cow_roll SELECT * FROM roll_src")
      val root = SqlDml.tableRoot("orders_cow_roll")
      val w2 = RloMeta.commitsOf(conf, root, 2)._2
        .find(_.startsWith("w2")).get
      val files = RloMeta.listDataFilesWithLen(conf, root, w2)
      assert(files.size > 1, s"one task wrote ${files.size} file(s)")
      // stats still describe the whole segment (all files folded in)
      val st = RloMeta.segStats(conf, root, w2)
      assert(st.nRows == SqlDml.ordersAsDate(spark, sf).count())
      assert(st.bytes == files.map(_._2).sum)
    } finally spark.conf.unset("spark.graft.rlo.target.file.bytes")
  }

  test("TIMESTAMP AS OF on a vacuumed table: timestamps at or after " +
      "a surviving commit still resolve; a timestamp only expired " +
      "versions could satisfy raises a clear 'expired' error, not a " +
      "FileNotFoundException (r13 advice)") {
    SqlDml.buildTable(spark, sf, "orders_cow_ttgc")
    spark.sql(s"UPDATE ${SqlDml.Cat}.${SqlDml.Ns}.orders_cow_ttgc " +
      "SET o_totalprice = o_totalprice + 500.0 " +
      "WHERE o_orderdate >= DATE '1999-01-01'")
    spark.sql(s"CALL ${SqlDml.Cat}.system.vacuum(" +
      s"'${SqlDml.Ns}.orders_cow_ttgc')").collect()
    // v2's commit time (logical clock: v1 + 1s) still resolves
    val n = spark.sql(s"SELECT COUNT(*) FROM ${SqlDml.Cat}." +
      s"${SqlDml.Ns}.orders_cow_ttgc " +
      "TIMESTAMP AS OF '2000-01-01 00:00:01'").collect().head.getLong(0)
    assert(n == SqlDml.ordersAsDate(spark, sf).count())
    // v1's time is only satisfiable by the expired version
    val e = intercept[Exception] {
      spark.sql(s"SELECT COUNT(*) FROM ${SqlDml.Cat}." +
        s"${SqlDml.Ns}.orders_cow_ttgc " +
        "TIMESTAMP AS OF '2000-01-01 00:00:00'").collect()
    }
    assert(e.getMessage.contains("expired"),
      s"want an 'expired' error, got: ${e.getMessage}")
  }

  test("schema evolution publishes CAS'd generations: two ALTERs " +
      "land schema_1/schema_2 and readSchema returns the widest") {
    val root = SqlDml.buildTable(spark, sf, "orders_cow_gens")
    spark.sql(s"ALTER TABLE ${SqlDml.Cat}.${SqlDml.Ns}" +
      ".orders_cow_gens ADD COLUMNS (x1 STRING)")
    spark.sql(s"ALTER TABLE ${SqlDml.Cat}.${SqlDml.Ns}" +
      ".orders_cow_gens ADD COLUMNS (x2 BIGINT)")
    val f = RloMeta.fs(conf, RloMeta.metaDir(root))
    Seq("schema_1.ddl", "schema_2.ddl").foreach { g =>
      assert(f.exists(new org.apache.hadoop.fs.Path(
        RloMeta.metaDir(root), g)), s"missing generation $g")
    }
    assert(RloMeta.readSchema(conf, root).fieldNames.toSeq
      .endsWith(Seq("x1", "x2")))
  }

  test("q361 compact_deletes: ONE merged artifact batch replaces " +
      "the accumulated ones, the dense segment folds copy-on-write " +
      "(its artifacts inert by scope), the shipped key set shrinks, " +
      "and the read is byte-stable across the compaction") {
    graft.operators.SqlDml.q361CompactDeletes(spark, sf).collect()
    val root = SqlDml.tableRoot("orders_mor_cmp")
    val head = RloMeta.headVersion(conf, root)
    assert(head == 4) // base, delete, delete, compact
    // before: two artifact batches; after: exactly one merged batch
    assert(RloMeta.deletesOf(conf, root, 3).size == 2)
    assert(RloMeta.deletesOf(conf, root, head).size == 1)
    // the driver-side key set SHRINKS (c0's keys folded away)
    val before = RloMeta.liveDeleteKeys(conf, root, 3)
    val after = RloMeta.liveDeleteKeys(conf, root, head)
    assert(before.keySet == Set("c0", "c1", "c2"))
    assert(after.keySet == Set("c1", "c2"),
      s"folded segment still ships keys: ${after.keySet}")
    assert(after.values.map(_.length).sum <
      before.values.map(_.length).sum)
    // c0 replaced by a folded segment; its files survive for v<=3
    val commits = RloMeta.commitsOf(conf, root, head)._2
    assert(!commits.contains("c0") &&
      display(commits).contains(s"f$head"))
    assert(RloMeta.listDataFiles(conf, root, "c0").nonEmpty)
    // byte-stable across the compaction
    def probe(v: Int) = spark.sql(s"SELECT COUNT(*) AS n, " +
      s"SUM(o_orderkey) AS k FROM ${SqlDml.Cat}.${SqlDml.Ns}" +
      s".orders_mor_cmp VERSION AS OF $v").collect().head
    assert(probe(3) == probe(head))
  }

  test("q362 atomic CTAS: the table appears fully formed (no staged " +
      "debris), and a CTAS losing the existence race discards its " +
      "staged data with nothing visible") {
    graft.operators.SqlDml.q362SqlCtas(spark, sf).collect()
    val dbDir = new org.apache.hadoop.fs.Path(
      SqlDml.tableRoot("orders_ctas")).getParent
    val f = RloMeta.fs(conf, dbDir)
    assert(!f.listStatus(dbDir).map(_.getPath.getName)
      .exists(_.contains(".staged-")), "staged CTAS debris left behind")
    // losing the race: stage a table, let someone else create the
    // real root, then commit - must fail loudly and clean up
    val cat = new graft.sources.GraftRloCatalog
    val opts = new java.util.HashMap[String, String]()
    opts.put("root", graft.Scratch.dir("rlo_catalog"))
    cat.initialize(SqlDml.Cat,
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(opts))
    val ident = org.apache.spark.sql.connector.catalog.Identifier.of(
      Array(SqlDml.Ns), "ctas_race")
    val schema = SqlDml.FixtureSchema
    val noParts = Array
      .empty[org.apache.spark.sql.connector.expressions.Transform]
    val staged = cat.stageCreate(ident, schema, noParts,
      new java.util.HashMap[String, String]())
    cat.createTable(ident, schema, noParts,
      new java.util.HashMap[String, String]())
    intercept[IllegalStateException] {
      staged.commitStagedChanges()
    }
    assert(!f.listStatus(dbDir).map(_.getPath.getName)
      .exists(_.contains(".staged-")), "lost CTAS left staged debris")
    cat.dropTable(ident)
  }

  test("q363 string stats route a string-predicate DML and plain " +
      "reads: the source-equality SELECT plans only s1, and the " +
      "DELETE's manifest arithmetic shows s0/s2 carried") {
    SqlDml.buildStringTable(spark, sf, "orders_src_prune")
    val df = spark.sql(s"SELECT o_orderkey FROM ${SqlDml.Cat}." +
      s"${SqlDml.Ns}.orders_src_prune WHERE o_source = 'jsrc'")
    df.collect()
    val scans = rloScans(df)
    assert(scans.nonEmpty)
    assert(scans.head.effectiveCommits == Seq("s1"),
      s"string predicate read ${scans.head.effectiveCommits}")
    // and the DML query's manifest arithmetic (the q347 assertion,
    // now on a string predicate)
    graft.operators.SqlDml.q363StringRoutedDelete(spark, sf).collect()
    val root = SqlDml.tableRoot("orders_cow_src")
    val v2 = RloMeta.commitsOf(conf, root, 2)._2
    assert(v2.count(_.startsWith("s")) == 2 &&
      display(v2).contains("w2"),
      s"string-routed DELETE replaced the wrong set: $v2")
    assert(v2.toSet.intersect(Set("s0", "s2")) == Set("s0", "s2"),
      s"s0/s2 should carry: $v2")
  }

  test("racing writers share NOTHING (r13 review, high): two write " +
      "attempts against the same head land in attempt-unique segment " +
      "dirs; the loser's commit fails loudly and its abort removes " +
      "ONLY its own files — the winner's published segment survives " +
      "and the table reads consistently") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.types.Decimal
    val root = SqlDml.buildTable(spark, sf, "orders_cow_race")
    val baseCount = spark.sql(s"SELECT COUNT(*) FROM " +
      s"${SqlDml.Cat}.${SqlDml.Ns}.orders_cow_race")
      .collect().head.getLong(0)
    def newBatch() = new graft.sources.RloWrite(root,
      SqlDml.FixtureSchema, "o_orderdate", () => Set.empty).toBatch
    // both attempts plan against head=1 BEFORE either commits — the
    // interleaving the r13 advice showed corrupting shared-name dirs
    val (wA, wB) = (newBatch(), newBatch())
    def writeRow(bw: org.apache.spark.sql.connector.write.BatchWrite,
        key: Long) = {
      val w = bw.createBatchWriterFactory(null).createWriter(0, key)
      w.write(InternalRow(key, 1L,
        Decimal(BigDecimal("10.00"), 12, 2), 9000))
      w.commit()
    }
    val (mA, mB) = (writeRow(wA, 900000101L), writeRow(wB, 900000202L))
    wA.commit(Array(mA)) // wins: publishes v2
    val e = intercept[IllegalStateException] { wB.commit(Array(mB)) }
    assert(e.getMessage.contains("concurrent commit"))
    wB.abort(Array(mB)) // loser cleans up ONLY its own attempt
    // exactly ONE w2 segment dir remains — the winner's, with files
    val dd = RloMeta.dataDir(root)
    val w2Dirs = RloMeta.fs(conf, dd).listStatus(dd)
      .map(_.getPath.getName).filter(_.startsWith("w2"))
    assert(w2Dirs.length == 1,
      s"want exactly the winner's w2 dir, got ${w2Dirs.toSeq}")
    assert(RloMeta.listDataFiles(conf, root, w2Dirs.head).nonEmpty,
      "loser's cleanup deleted the winner's published files")
    // manifest and read agree: base + exactly the winner's row
    assert(display(RloMeta.commitsOf(conf, root, 2)._2) ==
      Set("c0", "c1", "c2", "w2"))
    val after = spark.sql(s"SELECT COUNT(*) AS n, " +
      s"SUM(CASE WHEN o_orderkey IN (900000101, 900000202) " +
      s"THEN o_orderkey " +
      s"ELSE 0 END) AS marker FROM " +
      s"${SqlDml.Cat}.${SqlDml.Ns}.orders_cow_race").collect().head
    assert(after.getLong(0) == baseCount + 1)
    assert(after.getLong(1) == 900000101L, "the loser's row leaked in")
  }

  test("q364 metadata-only DELETE: an exactly-aligned retention " +
      "DELETE publishes a manifest omitting c0 — NO new segment, " +
      "nothing written, c0 files intact for time travel — while a " +
      "partially-aligned DELETE still falls back to copy-on-write") {
    graft.operators.SqlDml.q364MetadataDelete(spark, sf).collect()
    val root = SqlDml.tableRoot("orders_cow_md")
    // the new version is a pure manifest edit
    assert(RloMeta.commitsOf(conf, root, 2)._2.toSet == Set("c1", "c2"))
    val dd = RloMeta.dataDir(root)
    assert(RloMeta.fs(conf, dd).listStatus(dd).map(_.getPath.getName)
      .toSet == Set("c0", "c1", "c2"),
      "metadata delete must write NO data at all")
    assert(RloMeta.listDataFiles(conf, root, "c0").nonEmpty)
    // v1 still serves the full table
    val v1 = spark.sql(s"SELECT COUNT(*) FROM ${SqlDml.Cat}." +
      s"${SqlDml.Ns}.orders_cow_md VERSION AS OF 1")
      .collect().head.getLong(0)
    assert(v1 == SqlDml.ordersAsDate(spark, sf).count())
    // partial alignment: stats cannot prove full coverage of c0, so
    // the copy-on-write rewrite handles it (w2 appears)
    SqlDml.buildTable(spark, sf, "orders_cow_md2")
    spark.sql(s"DELETE FROM ${SqlDml.Cat}.${SqlDml.Ns}.orders_cow_md2 " +
      "WHERE o_orderdate < DATE '1996-01-01'")
    val root2 = SqlDml.tableRoot("orders_cow_md2")
    assert(display(RloMeta.commitsOf(conf, root2, 2)._2) ==
      Set("c1", "c2", "w2"),
      "partial predicate must take the rewrite path")
  }

  test("parquet row-group filter pushdown fires on PLAIN reads only: " +
      "results stay exact on both read paths, and the pushed " +
      "predicate provably reaches the reader (record-level drop " +
      "observed by driving the row reader directly)") {
    import org.apache.spark.sql.{sources => f}
    val root = SqlDml.buildTable(spark, sf, "orders_cow_push")
    val cut = java.sql.Date.valueOf("1998-01-01")
    // equivalence through SQL on both read paths
    val q = s"SELECT COUNT(*) AS n, SUM(o_orderkey) AS k FROM " +
      s"${SqlDml.Cat}.${SqlDml.Ns}.orders_cow_push " +
      "WHERE o_orderdate >= DATE '1998-01-01' " +
      "AND o_orderdate < DATE '1998-07-01'"
    val expDf = SqlDml.ordersAsDate(spark, sf)
      .filter(col("o_orderdate") >= lit("1998-01-01").cast("date") &&
        col("o_orderdate") < lit("1998-07-01").cast("date"))
      .agg(count(lit(1)), sum(col("o_orderkey"))).collect().head
    val exp = (expDf.getLong(0), expDf.getLong(1))
    def run(): (Long, Long) = {
      val r = spark.sql(q).collect().head
      (r.getLong(0), r.getLong(1))
    }
    assert(run() == exp)
    spark.conf.set("spark.graft.rlo.columnar.enabled", "false")
    try assert(run() == exp, "row path with pushdown drifted")
    finally spark.conf.unset("spark.graft.rlo.columnar.enabled")
    // the predicate reaches the reader: drive the row reader with a
    // pushed predicate over c1 (dates [1997, 1999)) and observe the
    // record-level drop — without pushdown it would return all rows
    val c1Files = RloMeta.listDataFilesWithLen(conf, root, "c1")
    val pred = graft.sources.RloFilterPush.forFilters(
      Seq(f.GreaterThanOrEqual("o_orderdate", cut)),
      SqlDml.FixtureSchema)
    assert(pred.isDefined, "date predicate must translate")
    def countRows(p: Option[org.apache.parquet.filter2.predicate
        .FilterPredicate], cols: Seq[String]): Long =
      c1Files.map { case (file, len) =>
        val r = new graft.sources.RloPartitionReader("c1", file, 0, len,
          SqlDml.FixtureSchema, Array.empty, "", p, cols)
        try { var n = 0L; while (r.next()) n += 1; n } finally r.close()
      }.sum
    val all = countRows(None, Seq.empty)
    val filtered = countRows(pred, Seq("o_orderdate"))
    val expFiltered = SqlDml.ordersAsDate(spark, sf)
      .filter(col("o_orderdate") >= lit("1997-01-01").cast("date") &&
        col("o_orderdate") < lit("1999-01-01").cast("date") &&
        col("o_orderdate") >= lit(cut.toString).cast("date")).count()
    assert(filtered < all, "pushed predicate did not fire")
    assert(filtered == expFiltered,
      s"pushed predicate dropped wrong rows: $filtered vs $expFiltered")
  }

  test("the RLO codec carries TIMESTAMP and DECIMAL natively: an " +
      "INSERT through the connector writer round-trips microsecond " +
      "timestamps and exact decimals on BOTH read paths (vectorized " +
      "and row-based), nulls included") {
    SqlDml.ensureCatalog(spark)
    val t = s"${SqlDml.Cat}.${SqlDml.Ns}.codec_ts"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (k BIGINT NOT NULL, " +
      "price DECIMAL(12,2), ts TIMESTAMP, d DATE)")
    spark.sql(s"INSERT INTO $t VALUES " +
      "(1, 12.34, TIMESTAMP '2001-02-03 04:05:06.123456', " +
      "DATE '2001-02-03'), " +
      "(2, NULL, NULL, DATE '2001-02-04')")
    def read(): Seq[String] =
      spark.sql(s"SELECT k, CAST(price AS STRING) AS p, " +
        s"CAST(ts AS STRING) AS tstr, CAST(d AS STRING) AS dd " +
        s"FROM $t ORDER BY k").collect()
        .map(_.mkString("|")).toSeq
    val expected = Seq(
      "1|12.34|2001-02-03 04:05:06.123456|2001-02-03",
      "2|null|null|2001-02-04")
    assert(read() == expected)
    spark.conf.set("spark.graft.rlo.columnar.enabled", "false")
    try assert(read() == expected, "row-based path disagrees")
    finally spark.conf.unset("spark.graft.rlo.columnar.enabled")
    spark.sql(s"DROP TABLE $t")
  }

  test("q365/q366 numeric stats (v4) route key predicates: a " +
      "key-range SELECT plans input partitions from only k1, the " +
      "DELETE's manifest arithmetic shows k0/k2 carried, and an " +
      "exactly-covering key DELETE goes metadata-only (the new " +
      "version omits k0 with NO new segment written)") {
    val (_, a, b) = SqlDml.buildKeyTable(spark, sf, "orders_key_prune")
    val mid = (a + b) / 2
    // plain-read routing from the numeric manifest bounds alone (the
    // date ranges of all three segments fully overlap by design)
    val df = spark.sql(s"SELECT o_orderkey FROM ${SqlDml.Cat}." +
      s"${SqlDml.Ns}.orders_key_prune " +
      s"WHERE o_orderkey >= $a AND o_orderkey < $mid")
    df.collect()
    val scans = rloScans(df)
    assert(scans.nonEmpty)
    assert(scans.head.effectiveCommits == Seq("k1"),
      s"key predicate read ${scans.head.effectiveCommits}, want k1")
    // q365: the operation scan routed to k1 — k0/k2 carried by
    // reference, one w2 rewrite
    SqlDml.q365NumericRoutedDelete(spark, sf).collect()
    val root = SqlDml.tableRoot("orders_cow_key")
    val v2 = RloMeta.commitsOf(conf, root, 2)._2
    assert(v2.toSet.intersect(Set("k0", "k2")) == Set("k0", "k2"),
      s"k0/k2 should carry: $v2")
    assert(display(v2) == Set("k0", "k2", "w2"),
      s"numeric-routed DELETE replaced the wrong set: $v2")
    // q366: full coverage proven by numeric bounds + zero nulls →
    // deleteWhere, a pure manifest omission (no segment written)
    SqlDml.q366NumericMetadataDelete(spark, sf).collect()
    val root2 = SqlDml.tableRoot("orders_cow_keymd")
    assert(RloMeta.commitsOf(conf, root2, 2)._2.toSet ==
      Set("k1", "k2"),
      "numeric metadata DELETE should omit k0 and write nothing")
    // k0's files survive for time travel
    assert(RloMeta.listDataFiles(conf, root2, "k0").nonEmpty)
  }

  test("string bounds are UTF-8-ordered and code-point-truncated " +
      "(r14 advice): a segment whose max is a supplementary-plane " +
      "value is NOT pruned for a BMP constant above U+E000, truncUp " +
      "carries on overflow instead of wrapping below everything, and " +
      "truncation never splits a surrogate pair") {
    import graft.sources.RloStatsPruning
    import org.apache.spark.sql.sources
    val supp = new String(Array(0x10000), 0, 1) // U+10000
    // UTF-8 order: U+E000 < U+F000 < U+10000; UTF-16 order disagrees
    // (the surrogate D800 sorts below E000)
    assert(RloMeta.u8cmp("", supp) < 0 && "" > supp)
    val st = RloMeta.SegStats(0, 0, 1L, 0L,
      Map("c" -> (RloMeta.truncLo(""),
        RloMeta.truncUpOpt(supp).get)), 0L)
    assert(RloStatsPruning.overlaps(
      sources.EqualTo("c", ""), "d", st),
      "segment containing [U+E000, U+10000] pruned for U+F000 - " +
        "UTF-16 ordering regression")
    // code-point truncation: 5 supplementary chars = 10 UTF-16 units;
    // the lower bound keeps 4 CODE POINTS and stays a valid string
    val five = supp * 5
    val lo = RloMeta.truncLo(five)
    assert(lo.codePointCount(0, lo.length) == 4 && lo == supp * 4)
    // upper-bound carry: bumping U+10FFFF overflows, drops the
    // position, bumps the previous code point
    val maxCp = new String(Array(0x10FFFF), 0, 1)
    assert(RloMeta.truncUpOpt("a" + maxCp * 4).contains("b"))
    assert(RloMeta.truncUpOpt(maxCp * 4 + "x").isEmpty,
      "all positions overflowed - no finite bound exists")
    // the bump skips the surrogate gap
    assert(RloMeta.cpBump("퟿").contains(""))
  }

  test("vacuum never reclaims a NEVER-REFERENCED dir (a concurrent " +
      "writer's in-flight attempt) while sweep_orphans age-gates it " +
      "(r14 advice): expire+vacuum reclaims only expired-version " +
      "references, the in-flight dir survives, and the orphan sweep " +
      "takes it only past the grace window") {
    val root = SqlDml.buildTable(spark, sf, "orders_cow_inflight")
    spark.sql(s"UPDATE ${SqlDml.Cat}.${SqlDml.Ns}.orders_cow_inflight " +
      "SET o_totalprice = o_totalprice + 1.0 " +
      "WHERE o_orderdate >= DATE '1999-01-01'")
    // an in-flight writer's attempt dir: segment files landed, the
    // version NOT yet published
    val inflight = RloMeta.commitDir(root, "w9-inflight1")
    val f = RloMeta.fs(conf, inflight)
    f.mkdirs(inflight)
    val probe = new org.apache.hadoop.fs.Path(inflight, "part-0.parquet")
    val out = f.create(probe); out.write(1); out.close()
    val (segs, _) = spark.sql(
      s"CALL ${SqlDml.Cat}.system.vacuum('${SqlDml.Ns}" +
        ".orders_cow_inflight')")
      .collect().map(_.getString(0)).partition(_.startsWith("c"))
    assert(segs.toSeq == Seq("c2"),
      s"vacuum should reclaim exactly the expired c2, got ${segs.toSeq}")
    assert(f.exists(probe),
      "vacuum deleted an in-flight writer's un-published segment dir")
    // young orphan survives a generous grace; a past-grace sweep
    // takes it (and only it)
    val kept = spark.sql(s"CALL ${SqlDml.Cat}.system.sweep_orphans(" +
      s"'${SqlDml.Ns}.orders_cow_inflight', 3600)").collect()
    assert(kept.isEmpty && f.exists(probe))
    val swept = spark.sql(s"CALL ${SqlDml.Cat}.system.sweep_orphans(" +
      s"'${SqlDml.Ns}.orders_cow_inflight', -1)").collect()
    assert(swept.map(_.getString(0)).toSeq == Seq("w9-inflight1"))
    assert(!f.exists(inflight))
  }

  test("OPTIMIZE on a table whose head has zero live rows publishes " +
      "an empty-commit version instead of crashing on null bounds " +
      "(r14 advice)") {
    SqlDml.buildTable(spark, sf, "orders_cow_empty")
    spark.sql(s"DELETE FROM ${SqlDml.Cat}.${SqlDml.Ns}" +
      ".orders_cow_empty WHERE o_orderdate >= DATE '1990-01-01'")
    val res = spark.sql(s"CALL ${SqlDml.Cat}.system.optimize(" +
      s"'${SqlDml.Ns}.orders_cow_empty')").collect().head
    assert(res.getInt(3) == 0 && res.getLong(5) == 0L,
      s"empty optimize should report 0 segments/rows, got $res")
    assert(spark.sql(s"SELECT COUNT(*) FROM ${SqlDml.Cat}." +
      s"${SqlDml.Ns}.orders_cow_empty").collect().head.getLong(0) == 0L)
  }

  test("columnar MoR reads (r15 verdict #1): live delete artifacts " +
      "keep the scan COLUMNAR — the batch scan still vectorizes, and " +
      "both paths (vectorized batch filter, row-based escape hatch) " +
      "return identical rows after the delete") {
    def batchScans(df: DataFrame): Seq[BatchScanExec] = {
      def go(p: SparkPlan): Seq[BatchScanExec] = p match {
        case a: AdaptiveSparkPlanExec => go(a.executedPlan)
        case q: QueryStageExec => go(q.plan)
        case b: BatchScanExec => Seq(b)
        case o => o.children.flatMap(go)
      }
      go(df.queryExecution.executedPlan)
    }
    SqlDml.buildTable(spark, sf, "orders_mor_colspec", mode = "mor")
    val t = s"${SqlDml.Cat}.${SqlDml.Ns}.orders_mor_colspec"
    spark.sql(s"DELETE FROM $t WHERE o_orderkey % 10 = 3")
    val df = spark.sql(s"SELECT o_orderkey, o_custkey, o_totalprice, " +
      s"o_orderdate FROM $t")
    val colRows = df.collect().map(_.mkString("|")).sorted.toSeq
    val scans = batchScans(df)
    assert(scans.nonEmpty, "no batch scan in plan")
    assert(scans.forall(_.supportsColumnar),
      "live MoR deletes de-vectorized the scan (r14 behavior) - the " +
        "columnar batch filter should keep it columnar")
    // no deleted key survives, no live row lost: exact row parity
    // with the row-based path
    spark.conf.set("spark.graft.rlo.columnar.enabled", "false")
    val rowRows =
      try spark.sql(s"SELECT o_orderkey, o_custkey, o_totalprice, " +
        s"o_orderdate FROM $t").collect().map(_.mkString("|")).sorted.toSeq
      finally spark.conf.unset("spark.graft.rlo.columnar.enabled")
    assert(colRows == rowRows, "columnar MoR read disagrees with the " +
      "row-based artifact apply")
    assert(!colRows.exists(_.split("\\|")(0).toLong % 10 == 3),
      "a deleted key survived the columnar batch filter")
    // an ALL-DELETED segment serves zero rows without losing others
    spark.sql(s"DELETE FROM $t WHERE o_orderdate < DATE '1997-01-01'")
    val after = spark.sql(s"SELECT COUNT(*) AS n, SUM(o_orderkey) " +
      s"AS k FROM $t").collect().head
    val expect = SqlDml.ordersAsDate(spark, sf)
      .filter(col("o_orderkey") % 10 =!= 3 &&
        col("o_orderdate") >= lit("1997-01-01").cast("date"))
      .agg(count(lit(1)), sum(col("o_orderkey"))).collect().head
    assert(after.getLong(0) == expect.getLong(0) &&
      after.getLong(1) == expect.getLong(1))
  }

  test("q367 connector table_changes reads ONLY churn (r15 verdict " +
      "#5): every scan of the changelog plans exactly the step's " +
      "added/removed segments — the carried segments are never " +
      "opened — and the manifest diff is the whole plan input") {
    val root = SqlDml.buildTable(spark, sf, "orders_chg_spec")
    spark.sql(s"UPDATE ${SqlDml.Cat}.${SqlDml.Ns}.orders_chg_spec " +
      "SET o_totalprice = o_totalprice + 500.0 " +
      "WHERE o_orderdate >= DATE '1999-01-01'")
    val changes = graft.sources.RloChanges.tableChanges(spark,
      s"${SqlDml.Cat}.${SqlDml.Ns}.orders_chg_spec", root, 1, 2)
    changes.collect()
    val scans = rloScans(changes)
    assert(scans.nonEmpty, "no RloScan in the changelog plan")
    val planned = scans.map(_.effectiveCommits.map(c =>
      c.takeWhile(_ != '-')).toSet)
    // one scan reads the replaced c2 (pre side), one the new w2
    // (post side); NO scan may touch the carried c0/c1
    assert(planned.forall(s =>
      s.intersect(Set("c0", "c1")).isEmpty),
      s"changelog read carried segments: $planned")
    assert(planned.contains(Set("c2")) && planned.contains(Set("w2")),
      s"changelog should plan exactly {c2} and {w2}: $planned")
    // and the content is the delete/insert pair of the rewrite
    val byType = changes.groupBy(col("_change_type"))
      .count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val touched = SqlDml.ordersAsDate(spark, sf)
      .filter(col("o_orderdate") >= lit("1999-01-01").cast("date"))
      .count()
    assert(byType == Map("delete" -> touched, "insert" -> touched))
  }

  test("q368 plan_maintenance prices verbs from metadata only and " +
      "its top item DELIVERS (r15 verdict #6): executing the ranked " +
      "plan's head produces the predicted metric move, and a healthy " +
      "table plans NOTHING") {
    import graft.sources.RloMaintenance
    // healthy table: 3 right-sized segments, no artifacts -> no work
    SqlDml.buildTable(spark, sf, "orders_plan_ok", mode = "mor")
    assert(spark.sql(s"CALL ${SqlDml.Cat}.system.plan_maintenance(" +
      s"'${SqlDml.Ns}.orders_plan_ok')").collect().isEmpty,
      "healthy table should produce an empty plan")
    // the engineered fixture: q368's exact construction
    graft.operators.SqlDml.q368PlanMaintenance(spark, sf).collect()
    val root = SqlDml.tableRoot("orders_plan")
    val plan = RloMaintenance.planMaintenance(root)
    assert(plan.nonEmpty && plan.head.action == "optimize" &&
      plan.head.metric == 5.0,
      s"expected optimize(5 segments) ranked first: $plan")
    assert(plan.map(_.action).toSet == Set("optimize",
      "compact_deletes:fold", "compact_deletes:merge"))
    // execute the top item: the bin-pack must deliver the predicted
    // segment-count collapse (5 -> 1), and a re-plan drops the verb
    val res = RloMaintenance.optimize(root,
      s"${SqlDml.Cat}.${SqlDml.Ns}.orders_plan")
    assert(res.segsBefore == 5 && res.segsAfter == 1,
      s"optimize delivered $res, plan predicted 5 -> 1")
    val after = RloMaintenance.planMaintenance(root)
    assert(!after.exists(_.action == "optimize"),
      s"optimize should leave the plan: $after")
    // the pack read through the table (artifacts applied), so the
    // fold/merge debt is retired too
    assert(after.isEmpty, s"packed table should be healthy: $after")
  }

  test("q369 RTAS publishes as a NEW VERSION of the existing table " +
      "(r15 verdict #3): time travel crosses the replace, a REPLACE " +
      "racing another loses the base-version check loudly with all " +
      "staged data discarded, and PARTITIONED BY accepts exactly " +
      "days(datecol) while rejecting anything else (r15 verdict #4)") {
    graft.operators.SqlDml.q369SqlRtas(spark, sf).collect()
    val root = SqlDml.tableRoot("orders_rtas")
    assert(RloMeta.headVersion(conf, root) == 3,
      "REPLACE should publish v3 of the SAME table, not a fresh root")
    // the declared cut is surfaced (the r14 silent-ignore trap)
    val cat = new graft.sources.GraftRloCatalog
    val opts = new java.util.HashMap[String, String]()
    opts.put("root", graft.Scratch.dir("rlo_catalog"))
    cat.initialize(SqlDml.Cat,
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(opts))
    val ident = org.apache.spark.sql.connector.catalog.Identifier.of(
      Array(SqlDml.Ns), "orders_rtas")
    assert(cat.loadTable(ident).partitioning().map(_.describe())
      .toSeq == Seq("days(o_orderdate)"))
    // racing REPLACEs: both stage against head 3; the first commit
    // wins v4, the second fails the base-version check and discards
    val schema = RloMeta.readSchema(conf, root)
    val noParts = Array
      .empty[org.apache.spark.sql.connector.expressions.Transform]
    val props = new java.util.HashMap[String, String]()
    val sA = cat.stageReplace(ident, schema, noParts, props)
    val sB = cat.stageReplace(ident, schema, noParts, props)
    sA.commitStagedChanges()
    assert(RloMeta.headVersion(conf, root) == 4)
    intercept[IllegalStateException] { sB.commitStagedChanges() }
    assert(RloMeta.headVersion(conf, root) == 4,
      "the losing REPLACE published something")
    val dbDir = new org.apache.hadoop.fs.Path(root).getParent
    val f = RloMeta.fs(conf, dbDir)
    assert(!f.listStatus(dbDir).map(_.getPath.getName)
      .exists(_.contains(".staged-")), "lost RTAS left staged debris")
    // rejection: any transform but days(<date col>) is a loud error,
    // never a silently-unpartitioned table
    import org.apache.spark.sql.connector.expressions.Expressions
    val badIdent = org.apache.spark.sql.connector.catalog.Identifier
      .of(Array(SqlDml.Ns), "orders_badpart")
    intercept[UnsupportedOperationException] {
      cat.createTable(badIdent, schema,
        Array[org.apache.spark.sql.connector.expressions.Transform](
          Expressions.bucket(4, "o_custkey")), props)
    }
    assert(!RloMeta.tableExists(conf, SqlDml.tableRoot("orders_badpart")))
    intercept[IllegalArgumentException] {
      cat.createTable(badIdent, schema,
        Array[org.apache.spark.sql.connector.expressions.Transform](
          Expressions.days("o_custkey")), props) // not a DATE column
    }
  }

  test("q370 nested + wide-decimal codec (r15 stretch): the " +
      "array<double>/DECIMAL(30,4) table reads identically on the " +
      "vectorized and row paths, and a MoR DELETE over a projected " +
      "array column falls back to the row path and stays exact") {
    import org.apache.spark.sql.types._
    graft.operators.SqlDml.q370NestedWideDml(spark, sf).collect()
    val t = s"${SqlDml.Cat}.${SqlDml.Ns}.orders_nested"
    def read(): Seq[String] = spark.sql(
      s"SELECT o_orderkey, CAST(wide_amt AS STRING) AS w, " +
        s"CAST(emb AS STRING) AS e FROM $t").collect()
      .map(_.mkString("|")).sorted.toSeq
    val viaColumnar = read()
    spark.conf.set("spark.graft.rlo.columnar.enabled", "false")
    val viaRow = try read()
      finally spark.conf.unset("spark.graft.rlo.columnar.enabled")
    assert(viaColumnar == viaRow,
      "nested/wide read paths disagree")
    assert(viaColumnar.nonEmpty &&
      viaColumnar.head.split("\\|")(2).startsWith("["))
    // MoR + arrays: delete keys apply exactly with the array column
    // projected (the columnar gate routes this scan to the row path)
    val root = SqlDml.tableRoot("orders_nested")
    RloMeta.setMode(conf, root, "mor")
    spark.sql(s"DELETE FROM $t WHERE o_orderkey % 10 = 3")
    val survivors = spark.sql(
      s"SELECT o_orderkey, emb FROM $t").collect()
    assert(survivors.nonEmpty &&
      !survivors.exists(_.getLong(0) % 10 == 3),
      "a deleted key survived the MoR array read")
    assert(survivors.forall(!_.isNullAt(1)))
  }

  test("ALTER TABLE RENAME moves the self-contained root: the new " +
      "name serves the same content with history intact, the old " +
      "name is gone, and renaming onto an existing table rejects") {
    SqlDml.buildTable(spark, sf, "orders_rn_old")
    val t = s"${SqlDml.Cat}.${SqlDml.Ns}"
    spark.sql(s"UPDATE $t.orders_rn_old SET o_totalprice = " +
      "o_totalprice + 1.0 WHERE o_orderdate >= DATE '1999-01-01'")
    val before = spark.sql(s"SELECT COUNT(*) FROM $t.orders_rn_old")
      .collect().head.getLong(0)
    spark.sql(s"DROP TABLE IF EXISTS $t.orders_rn_new")
    spark.sql(s"ALTER TABLE $t.orders_rn_old RENAME TO " +
      s"${SqlDml.Ns}.orders_rn_new")
    assert(spark.sql(s"SELECT COUNT(*) FROM $t.orders_rn_new")
      .collect().head.getLong(0) == before)
    // history traveled with the root
    assert(spark.sql(s"SELECT COUNT(*) FROM $t.orders_rn_new " +
      "VERSION AS OF 1").collect().head.getLong(0) == before)
    assert(!RloMeta.tableExists(conf, SqlDml.tableRoot("orders_rn_old")))
    SqlDml.buildTable(spark, sf, "orders_rn_old")
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $t.orders_rn_old RENAME TO " +
        s"${SqlDml.Ns}.orders_rn_new")
    }
  }

  test("q371 the connector streaming source consumes VERSION RANGES " +
      "append-only: each drain reads exactly the appended segments, " +
      "a replace (CoW UPDATE) mid-stream fails LOUDLY instead of " +
      "re-emitting or losing rows, and offsets are the versions") {
    import graft.sources.{RloMicroBatchStream, RloVersionOffset}
    val root = SqlDml.buildTable(spark, sf, "orders_ss_spec")
    val t = s"${SqlDml.Cat}.${SqlDml.Ns}.orders_ss_spec"
    // unit-level: plan the version diff directly
    val stream = new RloMicroBatchStream(root,
      SqlDml.FixtureSchema.json, "o_orderkey")
    assert(stream.latestOffset() == RloVersionOffset(1))
    val initial = stream.planInputPartitions(RloVersionOffset(0),
      RloVersionOffset(1))
    assert(initial.nonEmpty, "initial snapshot plans the head")
    spark.sql(s"INSERT INTO $t SELECT o_orderkey + 20000000, " +
      s"o_custkey, o_totalprice, DATE '2002-01-15' FROM $t " +
      "WHERE o_orderkey % 100 = 13")
    val step = stream.planInputPartitions(RloVersionOffset(1),
      RloVersionOffset(2))
    val stepCommits = step.flatMap {
      case p: graft.sources.RloInputPartition =>
        p.chunks.map(_.commit)
    }.toSet
    assert(stepCommits.forall(_.startsWith("w2")),
      s"append step should plan ONLY the appended segment: $stepCommits")
    // through the real engine: a stream checkpointed BEFORE a
    // replace dies loudly when the next drain crosses it (a fresh
    // stream would just take the new head as its initial snapshot)
    spark.sql("DROP VIEW IF EXISTS ss_spec_sink")
    val q = spark.readStream.table(t)
      .writeStream.format("memory").queryName("ss_spec_sink")
      .outputMode("append").start()
    try {
      q.processAllAvailable() // consumes to v2, checkpoint holds 2
      spark.sql(s"UPDATE $t SET o_totalprice = o_totalprice + 1.0 " +
        "WHERE o_orderdate >= DATE '1999-01-01'")
      val err = intercept[Exception] { q.processAllAvailable() }
      assert(err.getMessage != null &&
        (err.getMessage.contains("append-only") ||
          Option(err.getCause).exists(
            _.getMessage.contains("append-only"))),
        s"expected the append-only violation, got $err")
    } finally q.stop()
    // unit-level: the violating range names the remedy
    val uerr = intercept[IllegalArgumentException] {
      stream.planInputPartitions(RloVersionOffset(2),
        RloVersionOffset(3))
    }
    assert(uerr.getMessage.contains("table_changes"))
  }

  test("the DSv2 reader round-trips the fixture exactly: counts and " +
      "key sums match the source parquet, and column pruning " +
      "projects without decoding the rest") {
    SqlDml.buildTable(spark, sf, "orders_cow_rt")
    val viaCatalog = spark.sql(s"SELECT COUNT(*) AS n, " +
      s"SUM(o_orderkey) AS k FROM " +
      s"${SqlDml.Cat}.${SqlDml.Ns}.orders_cow_rt").collect().head
    val src = SqlDml.ordersAsDate(spark, sf)
      .agg(count(lit(1)), sum(col("o_orderkey"))).collect().head
    assert(viaCatalog.getLong(0) == src.getLong(0))
    assert(viaCatalog.getLong(1) == src.getLong(1))
  }
}
