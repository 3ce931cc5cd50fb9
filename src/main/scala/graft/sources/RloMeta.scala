package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, PrimitiveType, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Metadata layout + parquet row codec for the graft SQL-DML catalog
  * ([[GraftRloCatalog]]) — the storage half of the DSv2
  * SupportsRowLevelOperations table (r12 verdict #1).
  *
  * A table is a directory:
  * {{{
  *   <root>/meta/schema.ddl          column DDL (StructType.toDDL)
  *   <root>/meta/statscol.txt        the column segment stats index
  *   <root>/meta/stats_<commit>.txt  "minDays,maxDays,nRows"
  *   <root>/meta/v<N>.txt            version N: "ts=<micros>" + commits
  *   <root>/data/<commit>/<file>.parquet  immutable segment files
  * }}}
  *
  * Same invariants as the catalog-table tier (`TableFormat`):
  * segments are immutable, visibility is the manifest's job, stats are
  * metadata-sized. The COMMIT is the atomic creation of the next
  * version file (`FileSystem.create(path, overwrite = false)`) — the
  * same CAS primitive the ref log's partition registration uses, so a
  * raced publisher fails with nothing visible. All IO goes through the
  * Hadoop FileSystem API, so the layout works unchanged on an object
  * store (the reference's production sink is s3a://,
  * ref `etl/load.py:80-84`).
  *
  * The row codec covers the five types the engine's fixtures use
  * (long, int, double, string, date) via the parquet example Group
  * API — files written by Spark's own parquet writer (fixture bulk
  * loads) and by [[RloDataWriter]] (DML outputs) are mutually
  * readable because both are standard parquet primitives.
  */
object RloMeta {

  /** FileSystem OF THE PATH, not the default FS — a catalog root on
    * s3a:// must not resolve through fs.defaultFS (r13/r14 review:
    * the old no-arg overload returned the default FS and would have
    * failed every catalog operation on an object-store root). */
  def fs(conf: Configuration, p: Path): FileSystem = p.getFileSystem(conf)

  /** The active session's Hadoop config, loaded once and carrying the
    * session's `spark.hadoop.*` settings (an s3a root's endpoint and
    * credentials). A freshly constructed config has neither: it
    * re-parses `core-default.xml` (7.7 ms on a 4-core host) when it
    * resolves a FileSystem. Driver side only: tasks build their own. */
  def sessionConf: Configuration =
    SparkSession.active.sparkContext.hadoopConfiguration

  private def fsOf(conf: Configuration, p: Path): FileSystem =
    p.getFileSystem(conf)

  // ------------------------------------------------------- small IO

  private def readTextAt(conf: Configuration, p: Path): String =
    readText(fsOf(conf, p), p)

  private def readText(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try {
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
      new String(out.toByteArray, java.nio.charset.StandardCharsets.UTF_8)
    } finally in.close()
  }

  /** Write `text` to `p`, replacing it or, without `overwrite`,
    * create-if-absent (false when `p` exists). On `file://` through
    * [[LocalFileCommit]], which spawns no subprocess. */
  private def writeText(fs: FileSystem, p: Path, text: String,
      overwrite: Boolean): Boolean = {
    val bytes = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    LocalFileCommit.localPath(fs.makeQualified(p)) match {
      case Some(local) => LocalFileCommit.write(local, bytes, overwrite)
      case None =>
        try {
          val out = fs.create(p, overwrite)
          try out.write(bytes) finally out.close()
          true
        } catch {
          case _: org.apache.hadoop.fs.FileAlreadyExistsException
              if !overwrite => false
          case _: java.io.IOException if !overwrite && fs.exists(p) => false
        }
    }
  }

  // ------------------------------------------------ table metadata

  def metaDir(root: String) = new Path(root, "meta")
  def dataDir(root: String) = new Path(root, "data")
  def commitDir(root: String, commit: String) =
    new Path(dataDir(root), commit)

  def initTable(conf: Configuration, root: String, schema: StructType,
      statsCol: String): Unit = {
    RloTableCache.invalidate(root)
    val f = fsOf(conf, new Path(root))
    f.delete(new Path(root), true)
    for (d <- Seq(metaDir(root), dataDir(root)))
      LocalFileCommit.mkdirs(f.makeQualified(d))(f.mkdirs(d))
    writeText(f, new Path(metaDir(root), "schema.ddl"), schema.toDDL,
      overwrite = true)
    writeText(f, new Path(metaDir(root), "statscol.txt"), statsCol,
      overwrite = true)
  }

  def tableExists(conf: Configuration, root: String): Boolean = {
    val p = new Path(metaDir(root), "schema.ddl")
    fsOf(conf, p).exists(p)
  }

  /** Attempt-identity marker for staged (CTAS/RTAS) roots: written in
    * the STAGED meta dir before the publishing rename, re-read at the
    * final root after it. Hadoop's rename(src, dst) with dst an
    * existing directory moves src INTO dst — two racing committers
    * can both "succeed", the loser's root nesting invisibly inside
    * the winner's. The marker round-trip detects the lost race
    * (r14 advice, medium). */
  def writeAttemptMarker(conf: Configuration, root: String,
      attempt: String): Unit =
    writeText(fsOf(conf, metaDir(root)),
      new Path(metaDir(root), "attempt.txt"), attempt, overwrite = true)

  def attemptMarker(conf: Configuration, root: String): Option[String] = {
    val p = new Path(metaDir(root), "attempt.txt")
    if (fsOf(conf, p).exists(p)) Some(readTextAt(conf, p).trim) else None
  }

  /** Current schema = the highest published schema generation:
    * `schema.ddl` is generation 0 (written once at init), every
    * ALTER publishes `schema_<k>.ddl` through the same
    * create-if-absent CAS as versions — so concurrent ALTERs can
    * never interleave silently (r13 review: the old
    * read-validate-overwrite had a lost-update window). */
  def readSchema(conf: Configuration, root: String): StructType =
    StructType.fromDDL(readTextAt(conf,
      new Path(metaDir(root), schemaGenerations(conf, root).last._2)))

  /** The INITIAL schema (generation 0) — the columns every segment
    * file is guaranteed to carry (evolution is append-only), i.e.
    * the columns parquet filter pushdown may safely reference. */
  def readSchemaGen0(conf: Configuration, root: String): StructType =
    StructType.fromDDL(readTextAt(conf,
      new Path(metaDir(root), "schema.ddl")))

  /** (generation, fileName) pairs, ascending — generation 0 is the
    * init-time schema.ddl, always present. */
  private def schemaGenerations(conf: Configuration,
      root: String): Seq[(Int, String)] = {
    val names = fsOf(conf, metaDir(root)).listStatus(metaDir(root))
      .map(_.getPath.getName)
    val evolved = names.collect {
      case n if n.startsWith("schema_") && n.endsWith(".ddl") =>
        (n.stripPrefix("schema_").stripSuffix(".ddl").toInt, n)
    }
    ((0, "schema.ddl") +: evolved.toSeq).sortBy(_._1)
  }

  def statsCol(conf: Configuration, root: String): String =
    readTextAt(conf, new Path(metaDir(root), "statscol.txt")).trim

  /** Declared partitioning: a table created `PARTITIONED BY
    * (days(c))` records the cut so [[GraftRloTable.partitioning]] can
    * surface it (DESCRIBE, SHOW CREATE) — the cut column is always
    * the stats column, so pruning semantics are identical either way. */
  def setPartitioning(conf: Configuration, root: String,
      col: String): Unit =
    writeText(fsOf(conf, metaDir(root)),
      new Path(metaDir(root), "partition.txt"), s"days($col)",
      overwrite = true)

  def partitionedBy(conf: Configuration, root: String): Option[String] = {
    val p = new Path(metaDir(root), "partition.txt")
    if (fsOf(conf, p).exists(p)) {
      val v = readTextAt(conf, p).trim
      Some(v.stripPrefix("days(").stripSuffix(")"))
    } else None
  }

  /** SCHEMA EVOLUTION (append-only): overwrite the schema with a
    * wider one. Widening is metadata-only — existing segment files
    * keep their narrower physical schema and readers null the
    * missing columns per file (the [[RloPartitionReader]] footer
    * check), the classic add-column contract. Only appends are
    * legal: renames/drops/reorders would change the meaning of
    * existing files' columns without rewriting them. */
  def evolveSchema(conf: Configuration, root: String,
      newSchema: StructType): Unit = {
    RloTableCache.invalidate(root)
    val gens = schemaGenerations(conf, root)
    val old = StructType.fromDDL(readTextAt(conf,
      new Path(metaDir(root), gens.last._2)))
    require(newSchema.fields.take(old.length).map(f =>
        (f.name, f.dataType)).sameElements(
        old.fields.map(f => (f.name, f.dataType))),
      "schema evolution is append-only: existing columns must be " +
        s"unchanged (old ${old.toDDL}, new ${newSchema.toDDL})")
    // publish the next generation via the SAME create-if-absent CAS
    // as version files: a raced ALTER loses loudly and re-validates
    // against the winner's schema instead of silently overwriting it
    val next = new Path(metaDir(root), s"schema_${gens.last._1 + 1}.ddl")
    if (!casCreate(conf, next, newSchema.toDDL))
      throw new IllegalStateException(
        s"concurrent schema change: ${next.getName} already published" +
          " - re-run the ALTER against the new schema")
  }

  /** Expire all versions but `keep`, then reclaim every segment dir
    * and delete-batch dir no surviving version references — the q310
    * expire-then-vacuum two-phase for this catalog. Reachability is
    * pure manifest arithmetic; reclaim is a directory delete
    * (immutable segments make GC a delete, never a rewrite).
    * Returns (reclaimed segment dirs, reclaimed delete batches). */
  def expireAndVacuum(conf: Configuration, root: String,
      keep: Int): (Seq[String], Seq[String]) = {
    val f = fsOf(conf, new Path(root))
    val head = headVersion(conf, root)
    // expire-to-head ONLY: keeping an older version while dropping
    // the head would vacuum the newest committed data (r13 review)
    require(keep == head,
      s"keep=$keep must be the head version ($head) - expiry retires " +
        "history, never the newest commit")
    // Reclaim ONLY objects the EXPIRED versions referenced: a dir no
    // version ever referenced may be a concurrent writer's in-flight
    // attempt (segments land BEFORE the version publishes) — deleting
    // it between task commit and publishVersion would let the writer
    // publish a manifest over vanished files (r14 advice, medium).
    // Never-referenced orphans are [[sweepOrphans]]'s job, age-gated.
    val expired = liveVersions(conf, root).filterNot(_ == keep)
    val expiredSegs = expired.flatMap(v => commitsOf(conf, root, v)._2)
    val expiredBatches = expired.flatMap(v => deletesOf(conf, root, v))
    expired.foreach { v =>
      f.delete(new Path(metaDir(root), f"v$v%05d.txt"), false)
    }
    val live = commitsOf(conf, root, keep)._2.toSet
    val liveD = deletesOf(conf, root, keep).toSet
    val deadSegs = expiredSegs.distinct.filterNot(live).sorted
    val deadBatches = expiredBatches.distinct.filterNot(liveD).sorted
    deadSegs.foreach(c => f.delete(commitDir(root, c), true))
    deadBatches.foreach(b => f.delete(deleteBatchDir(root, b), true))
    deadSegs.foreach(c =>
      f.delete(new Path(metaDir(root), s"stats_$c.txt"), false))
    (deadSegs, deadBatches)
  }

  /** Age-gated orphan sweep — the OTHER half of reclamation: segment
    * and delete-batch dirs NO surviving version references (failed
    * attempts, losers of commit races) are deleted only once their
    * modification time is older than `graceMs`, so an in-flight
    * writer's not-yet-published dir is never swept out from under it
    * (the Iceberg remove_orphan_files older-than contract). */
  def sweepOrphans(conf: Configuration, root: String,
      graceMs: Long): (Seq[String], Seq[String]) = {
    val f = fsOf(conf, new Path(root))
    val referenced = liveVersions(conf, root).flatMap { v =>
      commitsOf(conf, root, v)._2 ++ deletesOf(conf, root, v)
    }.toSet
    val cutoff = System.currentTimeMillis() - graceMs
    def sweep(dir: Path, rm: String => Path): Seq[String] =
      if (!f.exists(dir)) Seq.empty
      else f.listStatus(dir).filter(_.isDirectory)
        .filter(s => !referenced(s.getPath.getName) &&
          s.getModificationTime < cutoff)
        .map(_.getPath.getName).toSeq.sorted
        .map { n => f.delete(rm(n), true); n }
    val segs = sweep(dataDir(root), commitDir(root, _))
    segs.foreach(c =>
      f.delete(new Path(metaDir(root), s"stats_$c.txt"), false))
    val batches = sweep(new Path(root, "deletes"),
      deleteBatchDir(root, _))
    (segs, batches)
  }

  // ------------------------------------------------------- versions

  private def versionPath(root: String, v: Int) =
    new Path(metaDir(root), f"v$v%05d.txt")

  /** Versions whose manifest file still exists — after an
    * expire+vacuum this is a strict subset of 1..head (r13 review:
    * time travel must skip expired versions, not crash on them). */
  def liveVersions(conf: Configuration, root: String): Seq[Int] =
    fsOf(conf, metaDir(root)).listStatus(metaDir(root))
      .map(_.getPath.getName)
      .collect { case n if n.startsWith("v") && n.endsWith(".txt") =>
        n.stripPrefix("v").stripSuffix(".txt").toInt }
      .toSeq.sorted

  def headVersion(conf: Configuration, root: String): Int = {
    val vs = liveVersions(conf, root)
    require(vs.nonEmpty, s"no published version under $root")
    vs.max
  }

  /** (commit-timestamp micros, commit set) of one version — the
    * manifest lookup; metadata-sized by construction. Lines prefixed
    * `d:` are DELETE-BATCH references (the merge-on-read flavor) and
    * are not commits; [[deletesOf]] reads those. */
  def commitsOf(conf: Configuration, root: String,
      v: Int): (Long, Seq[String]) = {
    val lines = readTextAt(conf, versionPath(root, v)).linesIterator
      .map(_.trim).filter(_.nonEmpty).toSeq
    val ts = lines.head.stripPrefix("ts=").toLong
    (ts, lines.tail.filterNot(_.startsWith("d:")))
  }

  /** Delete batches scoped to one version (merge-on-read flavor). */
  def deletesOf(conf: Configuration, root: String,
      v: Int): Seq[String] =
    readTextAt(conf, versionPath(root, v)).linesIterator
      .map(_.trim).filter(_.startsWith("d:")).map(_.stripPrefix("d:"))
      .toSeq

  /** Highest SURVIVING version whose commit timestamp is <= tsMicros.
    * Only versions whose manifest file still exists are candidates,
    * so a vacuumed table keeps serving TIMESTAMP AS OF for any time
    * at or after a surviving commit; a timestamp that only expired
    * versions could satisfy raises a clear 'expired' error instead of
    * a FileNotFoundException (r13 review). */
  def versionAsOf(conf: Configuration, root: String,
      tsMicros: Long): Int = {
    val live = liveVersions(conf, root)
    val vs = live.filter(v => commitsOf(conf, root, v)._1 <= tsMicros)
    require(vs.nonEmpty,
      s"no surviving version at or before ts $tsMicros " +
        s"(surviving versions: ${live.mkString(",")} - earlier " +
        "history may have been expired+vacuumed)")
    vs.max
  }

  /** Publish version `v` with the given commit set — ATOMIC via
    * create-if-absent: of two racing publishers exactly one wins and
    * the loser sees a clean failure with nothing visible (the q321
    * CAS discipline; an Iceberg commit is the same rename/create
    * primitive). Returns false on a lost race.
    *
    * Atomicity source per scheme: on `file://` the Hadoop local FS's
    * `create(overwrite = false)` is CHECK-then-create (a real race
    * window between two OS processes), so the local path hard-links
    * a written temp into place ([[LocalFileCommit]]) — kernel-atomic
    * across processes, which SqlDmlSpec exercises with two racing
    * JVMs. Remote stores keep the FileSystem call: HDFS
    * create-no-overwrite is namenode-atomic, and object stores
    * provide conditional create (S3 If-None-Match) under the same
    * contract. */
  def publishVersion(conf: Configuration, root: String, v: Int,
      tsMicros: Long, commits: Seq[String],
      deletes: Seq[String] = Nil): Boolean = {
    val text = (s"ts=$tsMicros" +: (commits ++ deletes.map("d:" + _)))
      .mkString("\n")
    casCreate(conf, versionPath(root, v), text)
  }

  /** Create-if-absent publish of one metadata file — the commit
    * primitive shared by version manifests and schema generations.
    * On `file://` it links a fully written temp into place
    * ([[LocalFileCommit]]): kernel-atomic across processes, where the
    * Hadoop local FS's `create(overwrite = false)` is check-then-create,
    * and free of the `chmod` subprocesses Hadoop spawns per file. */
  private[sources] def casCreate(conf: Configuration, p: Path,
      text: String): Boolean =
    // locality comes from the PATH's own filesystem, never the
    // default FS (an s3a root on a file-default host must take the
    // remote branch - r13 review)
    writeText(fsOf(conf, p), p, text, overwrite = false)

  // ---------------------------------------------------- segment stats

  private def statsPath(root: String, commit: String) =
    new Path(metaDir(root), s"stats_$commit.txt")

  /** Truncated string bounds length — the q350 zone-map truncate[4]
    * discipline carried into the segment manifest (r13 verdict #5).
    * Measured in CODE POINTS: a UTF-16 code-unit prefix could split a
    * surrogate pair, producing an unencodable bound (r14 advice). */
  val StrTruncLen = 4

  /** Spark compares strings as unsigned UTF-8 bytes (UTF8String);
    * every bound comparison must use the SAME order — Java's UTF-16
    * code-unit order disagrees for supplementary-plane values vs
    * constants in [U+E000,U+FFFF], which would prune segments that
    * contain matches (r14 advice, medium). */
  def u8cmp(a: String, b: String): Int =
    java.util.Arrays.compareUnsigned(
      a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      b.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  def u8min(a: String, b: String): String = if (u8cmp(a, b) <= 0) a else b
  def u8max(a: String, b: String): String = if (u8cmp(a, b) >= 0) a else b

  /** Lower bound: code-point prefix truncation (trunc(min) <= min in
    * UTF-8 order — a prefix sorts before anything it prefixes). */
  def truncLo(s: String): String = {
    val cps = s.codePoints().toArray
    if (cps.length <= StrTruncLen) s
    else new String(cps, 0, StrTruncLen)
  }

  /** Upper bound: code-point prefix truncation with the last code
    * point bumped when truncation dropped information, CARRYING on
    * overflow — bumping past U+10FFFF drops the position and bumps
    * the previous one (the Iceberg truncate upper-bound semantics);
    * all positions overflowing means NO finite bound exists (None —
    * the column's bounds are omitted and prune nothing). The old
    * code-unit bump wrapped ￿ to  , yielding an upper
    * bound smaller than everything (r14 advice, medium). */
  def truncUpOpt(s: String): Option[String] = {
    val cps = s.codePoints().toArray
    if (cps.length <= StrTruncLen) Some(s)
    else cpBump(new String(cps, 0, StrTruncLen))
  }

  /** Smallest string GREATER than every string with prefix `s`: the
    * last code point bumped, carrying on overflow (drop the position,
    * bump the previous); None when every position overflows — no
    * finite successor exists. Shared by the truncated upper bound and
    * the StartsWith prefix-range arithmetic. */
  def cpBump(s: String): Option[String] = {
    val t = s.codePoints().toArray
    var i = t.length - 1
    while (i >= 0) {
      var cp = t(i) + 1
      // skip the surrogate gap: D800–DFFF are not code points
      if (cp == 0xD800) cp = 0xE000
      if (cp <= 0x10FFFF)
        return Some(new String(t, 0, i) + new String(Array(cp), 0, 1))
      i -= 1
    }
    None
  }

  /** (truncLo(min), truncUp(max)) when a finite upper bound exists —
    * the one shape [[writeStats]] persists per string column. */
  def truncBounds(min: String, max: String): Option[(String, String)] =
    truncUpOpt(max).map(hi => (truncLo(min), hi))

  /** Full per-segment stats: the date-column range + row count
    * (format v1), plus file BYTES (so plan-time statistics read no
    * filesystem metadata), truncated min/max bounds per string
    * column (so string predicates stats-route too), the stats
    * column's NULL count (so metadata-only DELETE can prove full
    * segment coverage — a range promise says nothing about nulls),
    * and — stats v4 (r14 verdict #2) — EXACT min/max + null count
    * per long/int/decimal column, so key- and price-predicate DML
    * routes segments like date/string DML does (Iceberg keeps bounds
    * for every column the same way).
    * Reader tolerant of older files (bytes/nulls = -1 = unknown,
    * absent bounds prune nothing). */
  case class SegStats(minDays: Int, maxDays: Int, nRows: Long,
      bytes: Long, strBounds: Map[String, (String, String)],
      nulls: Long = -1L,
      numBounds: Map[String, NumBound] = Map.empty)

  /** One numeric column's exact segment bounds: values as
    * BigDecimal (longs/ints ride scale-0), plus the column's null
    * count — fullyMatches needs zero-null proof per column. */
  case class NumBound(lo: java.math.BigDecimal,
      hi: java.math.BigDecimal, nulls: Long)

  private def hexEnc(s: String): String =
    s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      .map(b => f"${b & 0xff}%02x").mkString

  private def hexDec(h: String): String =
    new String(h.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray,
      java.nio.charset.StandardCharsets.UTF_8)

  def writeStats(conf: Configuration, root: String, commit: String,
      minDays: Int, maxDays: Int, nRows: Long, bytes: Long = -1L,
      strBounds: Map[String, (String, String)] = Map.empty,
      nulls: Long = -1L,
      numBounds: Map[String, NumBound] = Map.empty): Unit = {
    val head = s"$minDays,$maxDays,$nRows,$bytes,$nulls"
    // hex-encode string bounds: the payload may contain any
    // character, the stats file stays line/comma-structured
    val lines = head +: (strBounds.toSeq.sortBy(_._1).map {
      case (c, (lo, hi)) => s"s:$c:${hexEnc(lo)}:${hexEnc(hi)}"
    } ++ numBounds.toSeq.sortBy(_._1).map {
      case (c, b) =>
        // an all-null column has a real null count but no range
        def tok(v: java.math.BigDecimal) =
          if (v == null) "" else v.toPlainString
        s"n:$c:${tok(b.lo)}:${tok(b.hi)}:${b.nulls}"
    })
    writeText(fsOf(conf, statsPath(root, commit)),
      statsPath(root, commit), lines.mkString("\n"), overwrite = true)
  }

  /** (minDays, maxDays, nRows) of one commit's stats-column range. */
  def stats(conf: Configuration, root: String,
      commit: String): (Int, Int, Long) = {
    val s = segStats(conf, root, commit)
    (s.minDays, s.maxDays, s.nRows)
  }

  def segStats(conf: Configuration, root: String,
      commit: String): SegStats = {
    val lines = readTextAt(conf, statsPath(root, commit)).linesIterator
      .map(_.trim).filter(_.nonEmpty).toSeq
    val parts = lines.head.split(",")
    val bounds = lines.tail.collect {
      case l if l.startsWith("s:") =>
        val Array(_, c, lo, hi) = l.split(":", 4)
        c -> (hexDec(lo), hexDec(hi))
    }.toMap
    val nums = lines.tail.collect {
      case l if l.startsWith("n:") =>
        val Array(_, c, lo, hi, nn) = l.split(":", 5)
        def dec(t: String) =
          if (t.isEmpty) null else new java.math.BigDecimal(t)
        c -> NumBound(dec(lo), dec(hi), nn.toLong)
    }.toMap
    SegStats(parts(0).toInt, parts(1).toInt, parts(2).toLong,
      if (parts.length > 3) parts(3).toLong else -1L, bounds,
      if (parts.length > 4) parts(4).toLong else -1L, nums)
  }

  def listDataFiles(conf: Configuration, root: String,
      commit: String): Seq[String] =
    listDataFilesWithLen(conf, root, commit).map(_._1)

  /** (path, length) per segment file — the one listStatus already
    * pays for the listing carries the lengths, so split planning
    * never needs a second round of getFileStatus RPCs. */
  def listDataFilesWithLen(conf: Configuration, root: String,
      commit: String): Seq[(String, Long)] = {
    val dir = commitDir(root, commit)
    val f = fsOf(conf, dir)
    if (!f.exists(dir)) Seq.empty
    else f.listStatus(dir)
      .filter(_.getPath.getName.endsWith(".parquet"))
      .map(s => (s.getPath.toString, s.getLen)).toSeq.sortBy(_._1)
  }

  // -------------------------------- merge-on-read delete artifacts

  def deleteBatchDir(root: String, dbatch: String) =
    new Path(new Path(root, "deletes"), dbatch)

  /** Table write mode: "cow" (default, copy-on-write ReplaceData) or
    * "mor" (merge-on-read delta writes + read-time artifact apply). */
  def mode(conf: Configuration, root: String): String = {
    val p = new Path(metaDir(root), "mode.txt")
    if (fsOf(conf, p).exists(p)) readTextAt(conf, p).trim else "cow"
  }

  def setMode(conf: Configuration, root: String, m: String): Unit = {
    RloTableCache.invalidate(root)
    writeText(fsOf(conf, metaDir(root)),
      new Path(metaDir(root), "mode.txt"), m, overwrite = true)
  }

  /** The artifact row schema: which key is deleted, in which segment
    * (the writer knows the exact segment from the row's `_partition`
    * metadata — exact routing, no stats arithmetic needed). */
  val DeleteSchema: StructType = StructType(Seq(
    StructField("del_key", LongType),
    StructField("target_commit", StringType)))

  /** Read the live delete keys per target commit for one version —
    * DRIVER-side (the artifact relation is churn-bounded by the MoR
    * contract; Iceberg ships delete files to readers the same way).
    * Returns commit -> sorted distinct keys. */
  def liveDeleteKeys(conf: Configuration, root: String,
      v: Int): Map[String, Array[Long]] =
    readDeleteKeys(conf, root, deletesOf(conf, root, v))

  /** Keys of SPECIFIC delete batches (changelog steps read only the
    * batches a version appended), commit -> sorted distinct keys. */
  def readDeleteKeys(conf: Configuration, root: String,
      batches: Seq[String]): Map[String, Array[Long]] = {
    val rows = batches.flatMap { b =>
      val dir = deleteBatchDir(root, b)
      val f = fsOf(conf, dir)
      if (!f.exists(dir)) Seq.empty
      else f.listStatus(dir).map(_.getPath)
        .filter(_.getName.endsWith(".parquet")).toSeq.flatMap { p =>
          val reader = org.apache.parquet.hadoop.ParquetReader.builder(
            new org.apache.parquet.hadoop.example.GroupReadSupport(), p)
            .withConf(conf).build()
          try Iterator.continually(reader.read()).takeWhile(_ != null)
            .map(g => (g.getString("target_commit", 0),
              g.getLong("del_key", 0))).toVector
          finally reader.close()
        }
    }
    rows.groupBy(_._1)
      .map { case (c, ks) => c -> ks.map(_._2).distinct.sorted.toArray }
  }

  def deleteCommitDir(conf: Configuration, root: String,
      commit: String): Unit = {
    fsOf(conf, commitDir(root, commit))
      .delete(commitDir(root, commit), true); ()
  }

  // ------------------------------------------------ parquet row codec

  /** Smallest FIXED_LEN_BYTE_ARRAY width that can hold any unscaled
    * value of the given decimal precision — the same rule Spark's
    * parquet writer applies, so wide-decimal segments stay mutually
    * readable. */
  def decimalFlbaBytes(precision: Int): Int =
    (1 to 16).find(n =>
      BigInt(2).pow(8 * n - 1) - 1 >= BigInt(10).pow(precision) - 1).get

  private def primitiveFor(dt: DataType): Types.PrimitiveBuilder[
      org.apache.parquet.schema.PrimitiveType] = dt match {
    case LongType => Types.optional(PrimitiveTypeName.INT64)
    case IntegerType => Types.optional(PrimitiveTypeName.INT32)
    case DoubleType => Types.optional(PrimitiveTypeName.DOUBLE)
    case FloatType => Types.optional(PrimitiveTypeName.FLOAT)
    case StringType => Types.optional(PrimitiveTypeName.BINARY)
      .as(LogicalTypeAnnotation.stringType())
    case DateType => Types.optional(PrimitiveTypeName.INT32)
      .as(LogicalTypeAnnotation.dateType())
    // decimal p<=18 rides INT64 with a decimal annotation — the
    // same physical layout Spark's own writer picks for
    // non-legacy parquet, so fixture segments and DML segments
    // stay mutually readable (r13 verdict #6); wider precisions
    // ride FIXED_LEN_BYTE_ARRAY at Spark's width (r14 stretch)
    case d: DecimalType if d.precision <= 18 =>
      Types.optional(PrimitiveTypeName.INT64)
        .as(LogicalTypeAnnotation.decimalType(d.scale, d.precision))
    case d: DecimalType =>
      Types.optional(PrimitiveTypeName.FIXED_LEN_BYTE_ARRAY)
        .length(decimalFlbaBytes(d.precision))
        .as(LogicalTypeAnnotation.decimalType(d.scale, d.precision))
    case TimestampType => Types.optional(PrimitiveTypeName.INT64)
      .as(LogicalTypeAnnotation.timestampType(true,
        LogicalTypeAnnotation.TimeUnit.MICROS))
    case other => throw new IllegalArgumentException(
      s"unsupported RLO column type ${other.sql}")
  }

  /** Parquet MessageType for a StructType over the supported types.
    * All fields optional — nullability is per-value at write time.
    * Arrays use the standard 3-level LIST encoding with Spark's
    * element naming (`list`/`element`), so files written by either
    * writer stay mutually readable. */
  def messageTypeFor(schema: StructType, name: String): MessageType = {
    val b = Types.buildMessage()
    schema.fields.foreach { f =>
      val t = f.dataType match {
        case ArrayType(et, _) =>
          Types.optionalList()
            .element(primitiveFor(et).named("element"))
            .named(f.name)
        case dt => primitiveFor(dt).named(f.name)
      }
      b.addField(t)
    }
    b.named(name)
  }

  /** One parquet Group → InternalRow, positions following `schema`.
    * Field lookup is BY NAME against the group's own schema, so the
    * codec is indifferent to on-disk column order (fixture segments
    * are written by Spark's parquet writer, DML segments by ours). */
  /** One parquet value at (group, field, index 0) → Catalyst value —
    * the shapes the inline primitive switches don't cover (arrays,
    * wide decimals, floats). */
  def groupValueComplex(g: Group, fi: Int, dt: DataType): Any =
    dt match {
      case FloatType => g.getFloat(fi, 0)
      case d: DecimalType => // precision > 18: FLBA two's complement
        org.apache.spark.sql.types.Decimal(
          BigDecimal(BigInt(g.getBinary(fi, 0).getBytes), d.scale),
          d.precision, d.scale)
      case ArrayType(et, _) =>
        val lg = g.getGroup(fi, 0) // the LIST wrapper
        val n = lg.getFieldRepetitionCount(0) // repeated 'list'
        val out = new Array[Any](n)
        var k = 0
        while (k < n) {
          val eg = lg.getGroup(0, k)
          out(k) =
            if (eg.getFieldRepetitionCount(0) == 0) null
            else et match {
              case DoubleType => eg.getDouble(0, 0)
              case FloatType => eg.getFloat(0, 0)
              case LongType => eg.getLong(0, 0)
              case IntegerType => eg.getInteger(0, 0)
              case StringType =>
                UTF8String.fromBytes(eg.getBinary(0, 0).getBytes)
              case other => throw new IllegalArgumentException(other.sql)
            }
          k += 1
        }
        new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
      case other => throw new IllegalArgumentException(other.sql)
    }

  def groupToRow(g: Group, schema: StructType,
      fieldIdx: Array[Int]): InternalRow = {
    val row = new GenericInternalRow(schema.length)
    var i = 0
    while (i < schema.length) {
      val fi = fieldIdx(i)
      if (fi < 0 || g.getFieldRepetitionCount(fi) == 0) row.setNullAt(i)
      else schema(i).dataType match {
        case LongType => row.setLong(i, g.getLong(fi, 0))
        case IntegerType => row.setInt(i, g.getInteger(fi, 0))
        case DoubleType => row.setDouble(i, g.getDouble(fi, 0))
        case StringType => row.update(i,
          UTF8String.fromBytes(g.getBinary(fi, 0).getBytes))
        case DateType => row.setInt(i, g.getInteger(fi, 0))
        case d: DecimalType if d.precision <= 18 => row.update(i,
          org.apache.spark.sql.types.Decimal(
            BigDecimal(BigInt(g.getLong(fi, 0)), d.scale),
            d.precision, d.scale))
        case TimestampType => row.setLong(i, g.getLong(fi, 0))
        case dt => row.update(i, groupValueComplex(g, fi, dt))
      }
      i += 1
    }
    row
  }

  /** InternalRow → parquet Group (write side of the codec). */
  def rowToGroup(row: InternalRow, schema: StructType,
      factory: SimpleGroupFactory): Group = {
    val g = factory.newGroup()
    var i = 0
    while (i < schema.length) {
      if (!row.isNullAt(i)) schema(i).dataType match {
        case LongType => g.add(schema(i).name, row.getLong(i))
        case IntegerType => g.add(schema(i).name, row.getInt(i))
        case DoubleType => g.add(schema(i).name, row.getDouble(i))
        case FloatType => g.add(schema(i).name, row.getFloat(i))
        case StringType => g.add(schema(i).name, row.getUTF8String(i).toString)
        case DateType => g.add(schema(i).name, row.getInt(i))
        case d: DecimalType if d.precision <= 18 =>
          g.add(schema(i).name,
            row.getDecimal(i, d.precision, d.scale).toUnscaledLong)
        case d: DecimalType => // FLBA, sign-extended to Spark's width
          val unscaled = row.getDecimal(i, d.precision, d.scale)
            .toJavaBigDecimal.unscaledValue()
          val width = decimalFlbaBytes(d.precision)
          val raw = unscaled.toByteArray
          val padded = new Array[Byte](width)
          val pad: Byte = if (unscaled.signum() < 0) -1 else 0
          java.util.Arrays.fill(padded, pad)
          System.arraycopy(raw, 0, padded, width - raw.length, raw.length)
          g.add(schema(i).name, org.apache.parquet.io.api.Binary
            .fromConstantByteArray(padded))
        case TimestampType => g.add(schema(i).name, row.getLong(i))
        case ArrayType(et, _) =>
          val arr = row.getArray(i)
          val lg = g.addGroup(schema(i).name)
          var k = 0
          while (k < arr.numElements()) {
            val eg = lg.addGroup("list")
            if (!arr.isNullAt(k)) et match {
              case DoubleType => eg.add("element", arr.getDouble(k))
              case FloatType => eg.add("element", arr.getFloat(k))
              case LongType => eg.add("element", arr.getLong(k))
              case IntegerType => eg.add("element", arr.getInt(k))
              case StringType =>
                eg.add("element", arr.getUTF8String(k).toString)
              case other => throw new IllegalArgumentException(other.sql)
            }
            k += 1
          }
        case dt => throw new IllegalArgumentException(dt.sql)
      }
      i += 1
    }
    g
  }
}
