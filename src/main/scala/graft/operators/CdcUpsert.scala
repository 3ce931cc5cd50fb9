package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Cols._

/** STREAMING CDC UPSERT INGEST — the write-side twin of q328's
  * changelog tail, and the q314×q317 composition the r11 verdict named
  * first: every real CDC-in pipeline (Debezium → table, DMS → lake)
  * produces micro-batches that carry INSERTS, UPDATES, and DELETES
  * together, and the write shape that lands them without rewriting
  * the table is exactly one APPEND COMMIT (inserts + update
  * post-images) plus one MoR DELETE ARTIFACT (delete keys + update
  * pre-image keys) per trigger. The reference's pipeline is
  * insert-only by construction (ref `etl/load.py:61-78` — a full
  * overwrite per run); a versioned 100 TB table needs the upsert
  * shape.
  *
  * The per-tick application is ONE function ([[applyTick]]) shared by
  * the streaming drain (q337) and the batch builder behind the
  * row-level change feed (q338) — the same online/offline parity rule
  * as q206/q217 and q309/q314. Disciplines, all inherited from the
  * q314/q317/q328 lessons:
  *
  *  - commit identity is CONTENT-derived (the tick rides IN the
  *    data): tick t lands data commit `u<t>`, delete batch `cd<t>`,
  *    and version t+2 — any delivery order yields identical bytes.
  *  - every write is IDEMPOTENT: data, segment stats, delete
  *    artifacts, and both manifests are partitioned by their
  *    commit/batch/version key and written through dynamic partition
  *    overwrite — a replayed trigger overwrites its own partitions.
  *  - ORDER-SAFETY: tick t requires commit u<t-1> on disk before
  *    publishing (the q314 monotone-delivery check) — a gap fails
  *    loudly instead of publishing a version that can't resolve.
  *  - delete ROUTING is stats-scoped and VERSION-pinned: pre-image /
  *    delete keys route to the segments of version t+1 (the table as
  *    of the previous tick) whose [min,max] date span admits the
  *    row's pre-image date — pure metadata arithmetic against the
  *    per-commit stats, deterministic under replay because the
  *    routing version is pinned by the tick, never read from a
  *    moving head.
  *  - every batch boundary is a TIME-TRAVELABLE snapshot: the report
  *    reads all four versions through the one shared merge-on-read
  *    path ([[TableFormat.morBranchesAt]]), so n_rows/sum_price per
  *    version are counted from the real reads and the oracle
  *    re-derives them from the tick predicates.
  *
  * At 100 TB this is the highest-frequency job a managed table runs:
  * per-trigger cost is the batch (append) plus metadata appends —
  * base segments are never read, let alone rewritten; the delete
  * debt it accumulates is exactly what q329's compactor bounds. */
object CdcUpsert {

  private[graft] val CuData = "graft_cdc_data_cu"
  private[graft] val CuManifest = "graft_cdc_manifest_cu"
  private[graft] val CuSegstats = "graft_cdc_segstats_cu"
  private[graft] val CuDeletes = "graft_cdc_deletes_cu"
  private[graft] val CuDManifest = "graft_cdc_dmanifest_cu"

  /** The three CDC ticks' content, as predicates over the orders
    * table — ONE definition consumed by the arrival stager, the batch
    * builder, and (as prose) the DuckDB oracles. Mod classes are
    * disjoint; inserted keys are shifted far past any fixture
    * keyspace; every insert/update POST-image carries the tick's CDC
    * day (so upsert commits have single-day spans disjoint from the
    * base span — routing never false-positives into them), while
    * update/delete PRE-images carry the row's original date (what a
    * real CDC feed's before-image carries, and what routes them).
    *
    * GENERAL CONTRACT (r12 advice): a before-image date must be the
    * date of the row's CURRENT segment. In this fixture the mod
    * classes are disjoint so every pre-image is the base row's
    * original date; but a key updated at tick t and later deleted at
    * tick t' > t lives in segment u<t> after the update, so its
    * delete pre-image must carry tick t's CDC day — exactly what a
    * log-derived CDC feed emits, since the before-image of a delete
    * IS the post-image of the preceding update. [[applyTick]]
    * asserts the consequence (every pre-image key resolves to a live
    * segment) at the writer, where a violating feed can still be
    * rejected. */
  private[graft] case class Tick(t: Int, insMod: Option[Int],
      insShift: Long, updMod: Option[Int], updDelta: Double,
      delMod: Option[Int], day: String)

  private[graft] val Ticks = Seq(
    Tick(0, Some(51), 100000000L, Some(11), 1000.0, None, "2002-04-01"),
    Tick(1, Some(53), 200000000L, None, 0.0, Some(13), "2002-05-01"),
    Tick(2, None, 0L, Some(17), 2000.0, Some(19), "2002-06-01"))

  /** One tick's CDC rows: (op, key, custkey, price, date, pre_date).
    * I/U rows carry the post-image (new date/price); U/D rows carry
    * the pre-image date that routes their delete. */
  private[graft] def tickRows(spark: SparkSession, dir: String,
      tk: Tick): DataFrame = {
    val orders = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        col("o_orderdate"))
    def empty = orders
      .filter(lit(false))
      .select(lit("x").as("op"), col("o_orderkey"), col("o_custkey"),
        col("o_totalprice"), col("o_orderdate"),
        col("o_orderdate").as("pre_orderdate"))
    val ins = tk.insMod.map { m =>
      Tables.requireKeyHeadroom(spark, dir, tk.insShift)
      orders.filter(col("o_orderkey") % 100 === m)
        .select(lit("I").as("op"),
          (col("o_orderkey") + tk.insShift).as("o_orderkey"),
          col("o_custkey"), col("o_totalprice"),
          lit(tk.day).cast("timestamp").as("o_orderdate"),
          lit(null).cast("timestamp").as("pre_orderdate"))
    }.getOrElse(empty)
    val upd = tk.updMod.map { m =>
      orders.filter(col("o_orderkey") % 100 === m)
        .select(lit("U").as("op"), col("o_orderkey"), col("o_custkey"),
          (col("o_totalprice") + tk.updDelta).as("o_totalprice"),
          lit(tk.day).cast("timestamp").as("o_orderdate"),
          col("o_orderdate").as("pre_orderdate"))
    }.getOrElse(empty)
    val del = tk.delMod.map { m =>
      orders.filter(col("o_orderkey") % 100 === m)
        .select(lit("D").as("op"), col("o_orderkey"), col("o_custkey"),
          col("o_totalprice"), col("o_orderdate"),
          col("o_orderdate").as("pre_orderdate"))
    }.getOrElse(empty)
    ins.unionByName(upd).unionByName(del)
      .withColumn("tick", lit(tk.t))
  }

  /** Create the empty versioned-table shells + the base commit: data
    * (partitioned by commit_id), per-commit stats (partitioned by
    * commit_id — stats maintenance is incremental AND idempotent),
    * delete artifacts (partitioned by dbatch), and both manifests
    * (partitioned by version). Base = all orders as commit `b_base`,
    * version 1. Every table declares dynamic partition overwrite, so
    * an overwriting `insertInto` from any session replaces only the
    * partitions it writes. */
  private[graft] def initBase(spark: SparkSession, dir: String): Unit = {
    import spark.implicits._
    Seq(CuData, CuManifest, CuSegstats, CuDeletes, CuDManifest)
      .foreach(Scale.dropManaged(spark, _))
    // the base data+stats chain and the three shell tables are
    // independent — overlap their writes (guide §2.6): the shells'
    // driver-side plan/commit constants hide under the data write
    Scale.inParallel(
      () => {
        Tables.orders(spark, dir)
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
            col("o_orderdate"), lit("b_base").as("commit_id"))
          .write.partitionBy("commit_id")
          .option("partitionOverwriteMode", "dynamic")
          .mode(SaveMode.Overwrite).saveAsTable(CuData)
        spark.table(CuData).groupBy(col("commit_id"))
          .agg(min(col("o_orderdate")).as("min_ts"),
            max(col("o_orderdate")).as("max_ts"),
            count(lit(1)).as("n_rows"))
          .select(col("min_ts"), col("max_ts"), col("n_rows"),
            col("commit_id"))
          .write.partitionBy("commit_id")
          .option("partitionOverwriteMode", "dynamic")
          .mode(SaveMode.Overwrite).saveAsTable(CuSegstats)
      },
      () => Seq(("b_base", 1)).toDF("commit_id", "version")
        .write.partitionBy("version")
        .option("partitionOverwriteMode", "dynamic")
        .mode(SaveMode.Overwrite).saveAsTable(CuManifest),
      // artifact + delete-manifest shells: rows appear from tick 0 on
      () => Seq.empty[(Long, String, String)]
        .toDF("del_key", "target_commit", "dbatch")
        .write.partitionBy("dbatch")
        .option("partitionOverwriteMode", "dynamic")
        .mode(SaveMode.Overwrite).saveAsTable(CuDeletes),
      () => Seq.empty[(String, Int)].toDF("dbatch", "version")
        .write.partitionBy("version")
        .option("partitionOverwriteMode", "dynamic")
        .mode(SaveMode.Overwrite).saveAsTable(CuDManifest))
  }

  /** Apply ONE CDC tick — the unit both q337's foreachBatch and
    * q338's batch builder execute. `batch` is the tick's CDC rows
    * (op/key/custkey/price/date/pre_orderdate/tick; exactly one
    * distinct tick). Lands:
    *   1. append commit `u<t>`: I + U rows (post-images);
    *   2. stats row for `u<t>` (incremental, from the batch only);
    *   3. delete batch `cd<t>`: U + D pre-image keys, stats-routed
    *      to the segments of version t+1;
    *   4. manifest version t+2 (commits b_base,u0..ut; delete scope
    *      cd0..cdt).
    * Every write is an overwriting `insertInto` keyed by the tick,
    * and every table it writes declares dynamic partition overwrite
    * ([[initBase]]), so a replayed trigger is byte-identical
    * (CdcUpsertSpec re-runs a tick and asserts it) without touching
    * the session's overwrite mode. */
  private[graft] def applyTick(batch: DataFrame): Unit = {
    val s = batch.sparkSession
    import s.implicits._
    // ONE pin of the whole micro-batch (r16 opt): every slice below —
    // the tick id, the upsert rows, the pre-image keys — re-filters
    // the pinned in-memory blocks instead of re-scanning the source.
    // The old shape pinned two overlapping slices separately, so the
    // batch-mode source (a 3-branch union over orders) was scanned
    // once for the tick collect and once more per slice pin; now the
    // source is scanned exactly once per tick. LAZY checkpoint: the
    // tick collect right below materializes it, so pin + collect are
    // one job instead of two (each extra action is a full driver
    // round-trip at any scale).
    val pinned = batch.localCheckpoint(eager = false)
    // driver-side distinct (r16): .distinct() planned a full shuffle
    // stage per trigger for a handful of tick values; projecting the
    // one int column and deduping on the driver keeps the pin
    // materialization a single stage with no exchange
    val ticks = pinned.select(col("tick"))
      .collect().map(_.getInt(0)).distinct
    require(ticks.length == 1,
      s"one CDC tick per micro-batch, got ${ticks.toSeq}")
    val t = ticks.head
    // ORDER-SAFETY (q314 discipline): tick t publishes version t+2,
    // so it requires version t+1 PUBLISHED — gated on the MANIFEST,
    // the authoritative publish point (the mid-drain spec's
    // invariant), not on the data partition's existence: a tick with
    // no I/U rows writes no u<t> partition yet still publishes its
    // version, and a predecessor that crashed after its data write
    // but before its manifest write must NOT pass this gate (it
    // would scope an empty delete batch and silently drop deletes).
    // A replayed tick still passes: version t+1 stays on disk.
    // (ONE manifest lookup serves both the gate and the routing scope
    // below — r15 opt; the scope is pinned by the tick either way.)
    val live = TableFormat.commitsOf(s, CuManifest, t + 1).toSeq.sorted
    require(live.nonEmpty,
      s"tick $t arrived before version ${t + 1} was published " +
        s"(predecessor tick ${t - 1} incomplete)")

    // cheap re-filters of the pinned batch (no per-slice pins)
    val upserts = pinned.filter(col("op").isin("I", "U"))
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        col("o_orderdate"), lit(s"u$t").as("commit_id"))
    val routedKeys = pinned.filter(col("op").isin("U", "D"))
      .select(col("o_orderkey"), col("pre_orderdate").as("o_orderdate"))
    // 3. (computed FIRST, r16 opt) the delete artifact: pre-image
    // keys routed by the per-commit stats of version t+1 (the table
    // as of the previous tick — pinned, so replay routes
    // identically). Pinning it here also fixes the routing input
    // before the stats table gains its u<t> row below.
    val routed = TableFormat
      .routeDeletes(s, CuSegstats, live, routedKeys, s"cd$t")
      .select(col("del_key"), col("target_commit"), col("dbatch"))
      .localCheckpoint(eager = false) // materialized by cnt below
    // PRE-IMAGE-DATE CONTRACT (r12 advice): a before-image must
    // carry the date of the row's CURRENT segment — after an
    // update, the post-image (CDC-day) date, because that is the
    // segment the row now lives in. A feed that violates it (e.g.
    // a delete whose pre-image date predates the row's last
    // update) routes to no live segment and the delete would be
    // silently lost; assert resolution completeness here, at the
    // writer, where the feed can still be rejected — now BEFORE any
    // write lands (r16: the old shape had already appended the data
    // commit when a bad feed was caught). One churn-sized action.
    val cnt = routedKeys.select(col("o_orderkey").as("k"),
        lit(1).as("side"))
      .unionByName(routed.select(col("del_key").as("k"),
        lit(2).as("side")))
      .agg(countDistinct(when(col("side") === 1, col("k"))).as("nk"),
        countDistinct(when(col("side") === 2, col("k"))).as("nr"))
      .collect().head
    val (nKeys, nRouted) = (cnt.getLong(0), cnt.getLong(1))
    require(nRouted == nKeys,
      s"tick $t: ${nKeys - nRouted} of $nKeys pre-image keys route " +
        "to no live segment — before-images must carry the date of " +
        "the row's current segment (post-update date after an update)")
    // 1.+2.+3. the append commit, its stats row, and the routed
    // artifact are disjoint-table writes off pinned inputs —
    // overlap all three (r16 widens the r15 two-way
    // wave: `routed` is pinned so its write re-reads nothing)
    Scale.inParallel(
      () => upserts.write.mode(SaveMode.Overwrite).insertInto(CuData),
      () => upserts.groupBy(col("commit_id"))
        .agg(min(col("o_orderdate")).as("min_ts"),
          max(col("o_orderdate")).as("max_ts"),
          count(lit(1)).as("n_rows"))
        .select(col("min_ts"), col("max_ts"), col("n_rows"),
          col("commit_id"))
        .write.mode(SaveMode.Overwrite).insertInto(CuSegstats),
      () => routed.write.mode(SaveMode.Overwrite).insertInto(CuDeletes))
    // 4. both manifests: version t+2, one row set each — still
    // written LAST (the publish point; the mid-drain spec's crash
    // window depends on it), but the two manifest tables are
    // independent of each other, so their tiny writes overlap
    Scale.inParallel(
      () => (("b_base" +: (0 to t).map("u" + _)).map((_, t + 2)))
        .toDF("commit_id", "version")
        .write.mode(SaveMode.Overwrite).insertInto(CuManifest),
      () => ((0 to t).map(i => (s"cd$i", t + 2)))
        .toDF("dbatch", "version")
        .write.mode(SaveMode.Overwrite).insertInto(CuDManifest))
  }

  /** Build the full CDC lifecycle in batch — base + all three ticks
    * through the SAME [[applyTick]] the stream runs. Shared by q338
    * and the spec. */
  private[graft] def buildLifecycle(spark: SparkSession,
      dir: String): Unit = {
    initBase(spark, dir)
    Ticks.foreach(tk => applyTick(tickRows(spark, dir, tk)))
  }

  /** One metadata pass covering versions 1..k of the CDC table — the
    * batched planning input every multi-version reader below shares
    * (r15 opt: 3 collects total instead of 3 per version). Collect it
    * AFTER the lifecycle's last write, never across a mutation. */
  private[graft] def morMeta(spark: SparkSession,
      versions: Seq[Int]): TableFormat.MorMeta =
    TableFormat.morMetaAt(spark, CuManifest, CuDeletes, CuDManifest,
      versions)

  /** The merge-on-read state at one version of the CDC table —
    * (rows, scoped delete artifacts) through the shared q317 path. */
  private[graft] def readStateMeta(spark: SparkSession,
      meta: TableFormat.MorMeta, v: Int): (DataFrame, DataFrame) = {
    val (direct, anti, scoped) = TableFormat.morBranchesFromMeta(spark,
      CuData, CuDeletes, meta, v)
    (direct.unionByName(anti), scoped)
  }

  private[graft] def readState(spark: SparkSession,
      v: Int): (DataFrame, DataFrame) =
    readStateMeta(spark, morMeta(spark, Seq(v)), v)

  /** The per-version report shared by q337 (which produces the table
    * by streaming) and the spec: n_rows / sum_price counted from the
    * real merge-on-read reads, n_live_deletes from the scoped
    * artifacts — the oracle re-derives all three per version from
    * the tick predicates. */
  private[graft] def versionReport(spark: SparkSession): DataFrame = {
    val meta = morMeta(spark, 1 to 1 + Ticks.size)
    (1 to 1 + Ticks.size).map { v =>
      val (rows, scoped) = readStateMeta(spark, meta, v)
      rows.agg(count(lit(1)).as("n_rows"),
          dsum(col("o_totalprice")).as("sum_price"))
        .crossJoin(scoped.agg(count(lit(1)).as("n_live_deletes")))
        .select(lit(v).as("version"), col("n_rows"), col("sum_price"),
          col("n_live_deletes"))
    }.reduce(_ unionByName _).orderBy(col("version"))
  }

  // ------------------------- row-level change data feed (q338)

  /** ROW-LEVEL CHANGE DATA FEED — the r11 verdict's #2 residual:
    * q312/q324/q328 consume the changelog as SEGMENT-level signed
    * deltas; real formats (Delta CDF, Iceberg changelog scans) also
    * emit ROW-level change rows keyed by record, with `_change_type`
    * ∈ insert / update_preimage / update_postimage / delete, so a
    * downstream consumer can react per record. Here the feed for the
    * v → v+1 step of the CDC upsert table is derived from ONLY the
    * step's churn (the q312 keyed diff, re-shaped):
    *
    *  - POST side: the step's one append commit `u<t>` — a single
    *    partition read, never the table;
    *  - PRE side: the step's delete artifact `cd<t>` resolved to rows
    *    — a partition-pruned read of only the TARGETED segments,
    *    semi-joined to the broadcast artifact keys (churn-sized by
    *    the same contract as q317's reads; CdcUpsertSpec asserts the
    *    partitions-read on both sides);
    *  - classification is the keyed full-outer diff: a key on both
    *    sides is an UPDATE (pre + post row), post-only is an INSERT,
    *    pre-only is a DELETE.
    *
    * In-query certificate: folding the feed's signed rows (insert /
    * update_postimage = +, delete / update_preimage = −) into the
    * per-customer MV state at v must equal the MV recomputed at v+1
    * — asserted with a `require` per step (exceptAll in both
    * directions), so the feed is PROVEN sufficient to maintain
    * downstream state, not just plausible. The oracle re-derives
    * every change row from the tick predicates. At 100 TB the feed's
    * cost per commit follows that commit's churn — the row-level
    * twin of q328's segment-delta economics. */
  /** The row-level change feed of ONE version step (tick t, i.e.
    * version t+1 → t+2) — churn-only by construction: post side is
    * the step's one append commit, pre side is the step's artifact
    * keys resolved against only the TARGETED segments. ONE
    * definition shared by q338's batch feed, q345's streaming
    * consumer, and the spec's partitions-read assertion. */
  private[graft] def changeFeedStep(spark: SparkSession,
      t: Int): DataFrame =
    changeFeedStepPre(spark, t,
      spark.table(CuDeletes).filter(col("dbatch") === s"cd$t")
        .select(col("target_commit")).distinct()
        .collect().map(_.getString(0)).toSeq.sorted)

  /** All ticks' targeted-commit scopes in ONE pass over the artifact
    * table (r16 opt): a standing consumer that will derive several
    * steps (q345) resolves every step's routing scope with one
    * metadata-sized collect instead of one per tick. Only sound once
    * the lifecycle's artifacts are all on disk. */
  private[graft] def targetedByBatch(
      spark: SparkSession): Map[String, Seq[String]] =
    spark.table(CuDeletes)
      .select(col("dbatch"), col("target_commit")).distinct()
      .collect()
      .map(r => r.getString(0) -> r.getString(1))
      .groupBy(_._1).map { case (b, xs) =>
        b -> xs.map(_._2).toSeq.sorted
      }

  /** [[changeFeedStep]] with the routing scope already resolved —
    * same frame, no per-call collect. */
  private[graft] def changeFeedStepPre(spark: SparkSession,
      t: Int, targeted: Seq[String]): DataFrame = {
    val post = spark.table(CuData)
      .filter(col("commit_id") === s"u$t")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        col("o_orderdate"))
    // resolve the artifact to pre-image rows: only the targeted
    // segments are read, keys applied as a broadcast semi-join
    val art = spark.table(CuDeletes).filter(col("dbatch") === s"cd$t")
    val pre = spark.table(CuData)
      .filter(col("commit_id").isin(targeted: _*))
      .join(broadcast(art),
        col("o_orderkey") === col("del_key") &&
          col("commit_id") === col("target_commit"), "left_semi")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        col("o_orderdate"))
    val diff = post.as("f").join(pre.as("r"),
      col("f.o_orderkey") === col("r.o_orderkey"), "full_outer")
    val preRows = diff.filter(col("r.o_orderkey").isNotNull)
      .select(
        when(col("f.o_orderkey").isNotNull, "update_preimage")
          .otherwise("delete").as("_change_type"),
        col("r.o_orderkey").as("o_orderkey"),
        col("r.o_custkey").as("o_custkey"),
        col("r.o_totalprice").as("o_totalprice"),
        col("r.o_orderdate").as("o_orderdate"))
    val postRows = diff.filter(col("f.o_orderkey").isNotNull)
      .select(
        when(col("r.o_orderkey").isNotNull, "update_postimage")
          .otherwise("insert").as("_change_type"),
        col("f.o_orderkey").as("o_orderkey"),
        col("f.o_custkey").as("o_custkey"),
        col("f.o_totalprice").as("o_totalprice"),
        col("f.o_orderdate").as("o_orderdate"))
    preRows.unionByName(postRows)
      .select(lit(t + 2).as("version"), col("_change_type"),
        col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        col("o_orderdate"))
  }

  /** The signed per-customer delta of a change feed — insert /
    * update_postimage = +, delete / update_preimage = −; the fold
    * input both q338's certificate and q345's consumer use. */
  private[graft] def feedSignedDelta(feed: DataFrame): DataFrame = {
    val sign = when(col("_change_type").isin("insert",
      "update_postimage"), 1L).otherwise(-1L)
    feed.select(col("o_custkey"), sign.as("s"),
      (sign * dec(col("o_totalprice"))).as("p"))
  }

  def q338RowChangeFeed(spark: SparkSession, dir: String): DataFrame = {
    buildLifecycle(spark, dir)
    // pin each step (feed + certificate share one pass); the three
    // step derivations are independent churn-sized reads — overlap
    // their materialization (guide §2.6, r15 opt)
    val steps = Scale.inParallel(Ticks.map { tk => () =>
      changeFeedStep(spark, tk.t).localCheckpoint()
    }: _*)
    // certificate per step: the feed maintains the per-customer MV —
    // fold its signed rows into state(v) and demand equality with the
    // recompute at v+1 (bit-equal decimal arithmetic, the q324 rule).
    // Each MoR-read MV state is pinned once and reused as both a
    // step's fold base and the previous step's equality reference —
    // four reads total, not eight executions through the exceptAll
    // pairs.
    if (graft.Certs.enabled) {
      val meta = morMeta(spark, 1 to 1 + Ticks.size)
      // the four per-version MV states are independent MoR reads, and
      // the three per-step equality certificates only consume the
      // pinned states — run each wave concurrently (guide §2.6)
      val versions = 1 to 1 + Ticks.size
      val mvAt = versions.zip(Scale.inParallel(versions.map { v => () =>
        readStateMeta(spark, meta, v)._1
          .groupBy(col("o_custkey"))
          .agg(count(lit(1)).as("n_orders"),
            sum(dec(col("o_totalprice"))).as("sum_price"))
          .localCheckpoint()
      }: _*)).toMap
      Scale.inParallel(Ticks.map { tk => () =>
        val v = tk.t + 2
        // one-pass multiset equality (r15 opt): the fold is consumed
        // exactly once inside the single certificate action, so it no
        // longer needs its own pin
        val folded = TableFormat.mvApplyDelta(mvAt(v - 1),
          feedSignedDelta(steps(tk.t)))
        require(graft.Certs.sameMultiset(folded, mvAt(v)),
          s"change feed for v${v - 1}->v$v does not maintain the MV")
      }: _*)
    }
    steps.reduce(_ unionByName _)
      .orderBy(col("version"), col("_change_type"), col("o_orderkey"))
  }

  /** q351: `table_changes(from_v, to_v)` as a SQL TABLE FUNCTION —
    * the r12 stretch ask (Delta-parity read-side CDC SQL). The q338
    * derivation, re-expressed declaratively and registered once as a
    * `CREATE FUNCTION ... RETURNS TABLE`, so a SQL consumer writes
    * `SELECT ... FROM table_changes(1, 4)` with zero Scala:
    *
    *  - `steps` maps each requested version to its append commit
    *    `u<t>` and delete batch `cd<t>` (version = t + 2, the
    *    content-derived identity of [[applyTick]]) — manifest rows
    *    only, metadata-sized;
    *  - POST side joins the data table on the step's one commit id,
    *    PRE side resolves the step's artifact keys against their
    *    TARGETED commits (the same churn-only reads as
    *    [[changeFeedStep]], now planned by Catalyst: both joins are
    *    broadcast of step/artifact-sized relations against the
    *    commit-partitioned table);
    *  - the keyed full-outer diff classifies insert /
    *    update_preimage / update_postimage / delete exactly as the
    *    Scala derivation does.
    *
    * The oracle is q338's, byte for byte — the two derivations must
    * agree row-identically, which is the online/offline parity rule
    * (q206/q217) applied to SQL vs Scala. */
  def q351TableChangesSql(spark: SparkSession,
      dir: String): DataFrame = {
    buildLifecycle(spark, dir)
    // the commit-routing joins prune the partitioned data scans via
    // dynamic partition pruning; a fresh TVF invocation has no
    // broadcast to reuse, so this relies on the session's standalone-
    // subquery DPP (GraftSession pins reuseBroadcastOnly=false) to
    // prune the base commit at ANY scale (the spec asserts the
    // non-trivial dynamicpruning filter and the partitions-read)
    spark.sql(s"""
      CREATE OR REPLACE TEMPORARY FUNCTION table_changes(
        from_v INT, to_v INT)
      RETURNS TABLE(version INT, _change_type STRING,
        o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE,
        o_orderdate TIMESTAMP)
      RETURN
      WITH steps AS (
        SELECT DISTINCT version AS v,
          CONCAT('u', CAST(version - 2 AS STRING)) AS ucommit,
          CONCAT('cd', CAST(version - 2 AS STRING)) AS dbatch
        FROM $CuManifest
        WHERE version > from_v AND version <= to_v AND version >= 2),
      post AS (
        SELECT s.v, d.o_orderkey, d.o_custkey, d.o_totalprice,
          d.o_orderdate
        FROM $CuData d JOIN steps s ON d.commit_id = s.ucommit),
      art AS (
        SELECT s.v, a.del_key, a.target_commit
        FROM $CuDeletes a JOIN steps s ON a.dbatch = s.dbatch),
      pre AS (
        SELECT art.v, d.o_orderkey, d.o_custkey, d.o_totalprice,
          d.o_orderdate
        FROM $CuData d JOIN art
          ON d.o_orderkey = art.del_key
          AND d.commit_id = art.target_commit),
      diff AS (
        SELECT COALESCE(f.v, r.v) AS v,
          f.o_orderkey AS fk, f.o_custkey AS fc,
          f.o_totalprice AS fp, f.o_orderdate AS fd,
          r.o_orderkey AS rk, r.o_custkey AS rc,
          r.o_totalprice AS rp, r.o_orderdate AS rd
        FROM post f FULL OUTER JOIN pre r
          ON f.v = r.v AND f.o_orderkey = r.o_orderkey)
      SELECT v AS version,
        CASE WHEN fk IS NOT NULL THEN 'update_preimage'
             ELSE 'delete' END AS _change_type,
        rk AS o_orderkey, rc AS o_custkey, rp AS o_totalprice,
        rd AS o_orderdate
      FROM diff WHERE rk IS NOT NULL
      UNION ALL
      SELECT v AS version,
        CASE WHEN rk IS NOT NULL THEN 'update_postimage'
             ELSE 'insert' END AS _change_type,
        fk, fc, fp, fd
      FROM diff WHERE fk IS NOT NULL""")
    spark.sql("""
      SELECT version, _change_type, o_orderkey, o_custkey,
        o_totalprice, o_orderdate
      FROM table_changes(1, 4)
      ORDER BY version, _change_type, o_orderkey""")
  }
}
