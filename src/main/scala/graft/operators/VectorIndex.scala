package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** The PERSISTED vector-index lifecycle — the embedding tier's
  * counterpart of the MinHash band-index artifact chain (q211 build /
  * q238 append / q241 compaction in [[Dedup]]). The in-query ANN
  * variants (q29 LSH, q53 IVF, q98 PQ in [[Similarity]]) retrain their
  * model on every run; a production similarity stack trains ONCE,
  * persists centroids / codebooks / assignments as catalog tables,
  * appends newly-arriving vectors against the frozen model, and probes
  * the standing artifact with no retraining. These queries make that
  * lifecycle real and — unlike q53/q98, whose MLlib k-means is
  * engine-specific and therefore rows-only in the driver gate — build
  * on the DETERMINISTIC Lloyd chain of q248 (k-lowest-vec_id seed, one
  * refinement, 9-rounded distances/means), so every result here is
  * hash-checked against a DuckDB oracle that mirrors the training run.
  *
  * Layout choices, argued for 100 TB:
  *
  *  - the IVF index table is PARTITIONED BY CELL (`partitionBy(cid)`),
  *    not bucketed: pruning is the entire point of an inverted-file
  *    index — a probe visits nprobe of k cells, and cell-partitioning
  *    plus a static probed-cell predicate turns that into partition
  *    pruning at file LISTING, so a 1000-executor probe lists and
  *    reads only the probed cells' files. Appends land as new files
  *    inside existing cell directories (`insertInto` routes rows by
  *    partition value) — history is never rewritten.
  *  - the centroid table is k×dim — metadata-sized model state, the
  *    piece every consumer (probe cell-selection, online assignment)
  *    broadcasts or collects.
  *  - the PQ artifact is the code table (one 4-byte code word per
  *    vector — the 64× RAM compression that is PQ's reason to exist)
  *    plus per-subspace codebooks; codes are bucketed by vec_id, the
  *    key downstream re-rank/lookup joins use.
  *
  * 8 cells / 8 codes here are the sf-scale stand-ins for the thousands
  * a real corpus gets; every plan shape below is invariant in k.
  *
  * SINGLE-WRITER CONSTRAINT: these queries manage fixed catalog table
  * names (`graft_ivf_*`, `graft_pq_*`) in the shared warehouse — the
  * artifact IS the point, so the names are stable the way a production
  * index's name is. Two concurrent sessions running the lifecycle
  * queries would drop/overwrite each other's artifacts mid-query;
  * run the bench sweep and the test suite sequentially (the repo's
  * standing rule). A multi-tenant deployment namespaces the tables per
  * index owner, exactly as it would any other shared catalog object.
  */
object VectorIndex {

  /** Load the persisted centroid table as model state: the k-row
    * collect every consumer of a frozen model performs (probe cell
    * selection, online assignment, the drift monitor). Fails loudly
    * if the persisted ids are not dense 0..k-1 — a renumbered or
    * short model silently desyncs cid labels from every oracle. */
  private[graft] def readCenters(spark: SparkSession,
      centroidsTable: String, k: Int): IndexedSeq[IndexedSeq[Double]] = {
    val persisted = spark.table(centroidsTable)
      .orderBy(col("cid")).collect()
    require(persisted.map(_.getInt(0)).toSeq == persisted.indices,
      "persisted centroid ids must be dense")
    require(persisted.length == k,
      s"persisted model has ${persisted.length} centroids, expected $k")
    persisted.map(_.getSeq[Double](1).toIndexedSeq).toIndexedSeq
  }

  // ---------------------------------------------------------- IVF

  /** Persist the IVF model: centroids → `centroidsTable` (cid, c),
    * per-vector assignments → `indexTable` (vec_id, v) partitioned by
    * cid. The index declares dynamic partition overwrite, so a cell
    * rewrite through `insertInto` replaces only the cells it writes.
    * Returns the centers so build-time callers skip a re-read. */
  private[graft] def buildIvf(spark: SparkSession, e: DataFrame, k: Int,
      centroidsTable: String, indexTable: String): Seq[Seq[Double]] = {
    import spark.implicits._
    Scale.dropManaged(spark, centroidsTable)
    Scale.dropManaged(spark, indexTable)
    val centers = Similarity.centersOf(e, k)
    centers.zipWithIndex.map { case (c, i) => (i, c) }
      .toDF("cid", "c")
      .write.mode(SaveMode.Overwrite).saveAsTable(centroidsTable)
    Similarity.lloydAssign(e, centers)
      .select(col("vec_id"), col("v"), col("cid"))
      .write.partitionBy("cid")
      .option("partitionOverwriteMode", "dynamic")
      .mode(SaveMode.Overwrite).saveAsTable(indexTable)
    centers
  }

  /** Probe the PERSISTED index: select each probe's `nprobe` nearest
    * cells from the centroid TABLE (a k-row scan — no retraining),
    * then score exact cosine only inside those cells. The probed-cell
    * set is |probes| × nprobe ints — MODEL-STATE-sized by
    * construction — so it is collected and inlined as a STATIC
    * partition predicate on the cell-partitioned index: pruning is
    * then a file-listing guarantee (spec-asserted partitions-read ==
    * probed cells), not an optimizer courtesy (the DPP alternative
    * hinges on broadcast-reuse heuristics that fall back to
    * scan-everything when the probe-cell subplan contains its own
    * exchange — measured, not theorized). After the pruned scan the index side flows
    * exchange-free into the broadcast probe join; the only shuffle is
    * the per-probe top-k window. Distances and cosines round to 9
    * before every rank so the cell choice and the final order are
    * engine-portable. */
  private def probeIvf(spark: SparkSession, probes: DataFrame,
      centroidsTable: String, indexTable: String,
      nprobe: Int): DataFrame = {
    val cents = spark.table(centroidsTable)
    val wCell = Window.partitionBy(col("q_id"))
      .orderBy(col("d"), col("cid"))
    val probeCells = probes.crossJoin(cents)
      .withColumn("d", round(Similarity.sqDist(col("pv"), col("c")), 9))
      .withColumn("rn", row_number().over(wCell))
      .filter(col("rn") <= nprobe)
      .select(col("q_id"), col("pv"), col("cid"))
    val cells = probeCells.select(col("cid")).distinct()
      .collect().map(_.getInt(0)).toSeq
    val wRank = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
    spark.table(indexTable)
      .filter(col("cid").isin(cells: _*))
      .join(broadcast(probeCells), Seq("cid"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        round(Similarity.dotD(col("pv"), col("v")) /
          (Similarity.normD(col("pv")) * Similarity.normD(col("v"))), 9)
          .as("cosine"))
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= 3)
      .select(col("q_id"), col("rank"), col("vec_id"), col("cosine"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** The probe set (vec_id < 5) as (q_id, pv) double vectors. */
  private def probesD(spark: SparkSession, dir: String): DataFrame =
    Similarity.embDouble(spark, dir).filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("v").as("pv"))

  /** q294: IVF index build + probe-from-persisted. Train the
    * deterministic k=8 Lloyd model, persist centroids + cell-
    * partitioned assignments as catalog tables, then answer the probe
    * ENTIRELY from the persisted artifact — the query never touches
    * the in-memory training frames after the write (the q211
    * provenance discipline). nprobe = 2 of 8 cells; approximate BY
    * DESIGN vs the exact q27 anchor, but — unlike q53 — fully
    * hash-checked, because the oracle retrains the same deterministic
    * model and probes the same two cells. */
  def q294IvfPersistedProbe(spark: SparkSession, dir: String): DataFrame = {
    val e = Similarity.embDouble(spark, dir)
    buildIvf(spark, e, 8, "graft_ivf_centroids", "graft_ivf_index")
    probeIvf(spark, probesD(spark, dir),
      "graft_ivf_centroids", "graft_ivf_index", nprobe = 2)
  }

  /** q295: IVF APPEND maintenance — the daily-ingest half of the
    * lifecycle. Day 0 trains on the base corpus (vec_id % 10 ≠ 7) and
    * persists the model; day 1's batch (% 10 = 7) is assigned ONLINE
    * against the PERSISTED centroids — the k-row model table is
    * collected (model state, metadata-sized by construction, the q260
    * online-assignment contract) and rides into the assignment map as
    * a literal; the batch `insertInto`s the index, landing one new
    * file inside each touched cell directory. History is never
    * rewritten and the model is never retrained — which is exactly
    * what the oracle checks: the probe over the appended index must
    * equal assigning the FULL corpus against the base-trained centers
    * (append must be semantically invisible vs a rebuild UNDER THE
    * FROZEN MODEL). Cell-population drift under a frozen quantizer is
    * the standing operational trade; the q255-style OOD report is the
    * monitor that schedules retraining. */
  def q295IvfAppendProbe(spark: SparkSession, dir: String): DataFrame = {
    val e = Similarity.embDouble(spark, dir)
    val isNew = col("vec_id") % 10 === 7
    buildIvf(spark, e.filter(!isNew), 8,
      "graft_ivf_centroids_app", "graft_ivf_index_app")
    // ONLINE assignment of the new batch against the persisted model:
    // read the centroid TABLE (not the build-time values) so the
    // append path is exactly what a separate ingest job would run
    val centers = readCenters(spark, "graft_ivf_centroids_app", 8)
    Similarity.lloydAssign(e.filter(isNew), centers)
      .select(col("vec_id"), col("v"), col("cid"))
      .write.mode(SaveMode.Append)
      .insertInto("graft_ivf_index_app")
    probeIvf(spark, probesD(spark, dir),
      "graft_ivf_centroids_app", "graft_ivf_index_app", nprobe = 2)
  }

  /** q298: IVF frozen-model DRIFT MONITOR — the query q295's scaladoc
    * promises ("the q255-style OOD report is the monitor that
    * schedules retraining"): under append maintenance the quantizer
    * is frozen, so newly-arriving vectors can silently land far from
    * every centroid or pile into a few cells. Per cell, against the
    * base-trained model: base vs appended population, the appended
    * share, and the 9-rounded mean assignment distance of each
    * population — `drift_flag` fires when the appended batch's mean
    * distance exceeds 1.5× the base's (the new data no longer looks
    * like what the model was trained on) and is what a scheduler
    * watches to trigger the retrain + rebuild cycle.
    *
    * Scale shape: one narrow assignment map over the corpus (centers
    * ride as literals — the q248 contract, zero corpus shuffle) and
    * ONE k-row aggregate; distance means sum 9-rounded dists as
    * exact decimals, so every reported number is engine-portable and
    * the monitor itself is hash-checked — a drift threshold that
    * silently stops firing fails CORRECTNESS.
    *
    * Provenance (r8): the monitor consumes the PERSISTED model —
    * `buildIvf` runs first only so the query is self-contained, and
    * the monitor's plan then reads `graft_ivf_centroids_mon` through
    * [[readCenters]], never the in-memory training chain (the
    * q294/q295 discipline; a real deployment runs the monitor as a
    * separate job against the standing artifact, which is now exactly
    * the code path exercised; the monitor gets its OWN table suffix
    * like every other lifecycle query — r8's build into q295's `_app`
    * names silently replaced that query's appended artifact under any
    * non-sequential run). `drift_flag` also fires when a cell's
    * population is ENTIRELY appended vectors (n_base = 0) — the
    * strongest possible drift signal, which the base-mean ratio alone
    * can never see (its base mean is undefined there). */
  def q298IvfDriftMonitor(spark: SparkSession, dir: String): DataFrame = {
    val e = Similarity.embDouble(spark, dir)
    val isNew = col("vec_id") % 10 === 7
    buildIvf(spark, e.filter(!isNew), 8,
      "graft_ivf_centroids_mon", "graft_ivf_index_mon")
    val centers = readCenters(spark, "graft_ivf_centroids_mon", 8)
    driftAgg(Similarity.lloydAssign(e, centers).withColumn("is_new", isNew))
      .select(col("cid"), col("n_base"), col("n_new"),
        round(col("n_new").cast("double") /
          (col("n_base") + col("n_new")).cast("double"), 9)
          .as("share_new"),
        col("mean_dist_base"), col("mean_dist_new"), col("drift_flag"))
      .orderBy(col("cid"))
  }

  /** The per-cell drift rule shared by the monitor (q298) and the
    * rebuild trigger (q302) — ONE definition so a rule change cannot
    * desync the monitor from the action it schedules (the oracles
    * share `OracleDefs.driftCellsSql` the same way). Over an
    * assignment frame carrying (cid, dist, is_new): base/appended
    * populations, their 9-rounded mean assignment distances (sums as
    * exact decimals, so engine-portable), and `drift_flag` — fires
    * when a cell holds appended vectors whose mean distance exceeds
    * 1.5× the base's, or whose population is entirely appended. */
  private def driftAgg(assigned: DataFrame): DataFrame = {
    val dec = "decimal(28,9)"
    assigned.groupBy(col("cid"))
      .agg(
        sum(when(!col("is_new"), 1L).otherwise(0L)).as("n_base"),
        sum(when(col("is_new"), 1L).otherwise(0L)).as("n_new"),
        sum(when(!col("is_new"), col("dist").cast(dec))
          .otherwise(lit(0).cast(dec))).as("base_dec"),
        sum(when(col("is_new"), col("dist").cast(dec))
          .otherwise(lit(0).cast(dec))).as("new_dec"))
      .select(col("cid"), col("n_base"), col("n_new"),
        when(col("n_base") > 0,
          round(col("base_dec").cast("double") /
            col("n_base").cast("double"), 9)).as("mean_dist_base"),
        when(col("n_new") > 0,
          round(col("new_dec").cast("double") /
            col("n_new").cast("double"), 9)).as("mean_dist_new"))
      .withColumn("drift_flag",
        col("n_new") > 0 && (col("n_base") === 0 ||
          col("mean_dist_new") > col("mean_dist_base") * 1.5d))
  }

  /** q301: IVF cell COMPACTION — the q241 analog for the vector
    * index, completing lifecycle parity with the band index (build
    * q294 / append q295 / monitor q298 / compact HERE). q295-style
    * appends land one file per touched cell per batch; after enough
    * batches a cell directory is a pile of small files and the probe
    * pays per-file open cost exactly where pruning should make it
    * cheapest. Compaction rewrites ONLY the cells the append batch
    * touched: the touched-cell set is collected from the (staged)
    * batch assignment — model-state-sized, like the probe's cell
    * set — the pruned read lists only those cells' files (the same
    * file-listing guarantee the probe gets), `repartition(|touched|,
    * cid)` lays exactly one file per cell, and a DYNAMIC partition
    * overwrite replaces just those directories. Untouched cells are
    * never read, never rewritten — at 100 TB compaction cost tracks
    * the append rate, not the index size. Compaction must be
    * INVISIBLE to the probe: the oracle is the same
    * rebuild-under-the-frozen-model SQL as q295's. */
  def q301IvfCompaction(spark: SparkSession, dir: String): DataFrame = {
    val e = Similarity.embDouble(spark, dir)
    val isNew = col("vec_id") % 10 === 7
    buildIvf(spark, e.filter(!isNew), 8,
      "graft_ivf_centroids_cpt", "graft_ivf_index_cpt")
    val centers = readCenters(spark, "graft_ivf_centroids_cpt", 8)
    val newAssigned = Similarity.lloydAssign(e.filter(isNew), centers)
      .select(col("vec_id"), col("v"), col("cid"))
      .localCheckpoint() // feeds the append AND the touched-cell set
    newAssigned.write.mode(SaveMode.Append)
      .insertInto("graft_ivf_index_cpt")
    val touched = newAssigned.select(col("cid")).distinct()
      .collect().map(_.getInt(0)).toSeq.sorted
    // an empty append batch touches no cell — nothing to compact (and
    // repartition(0) would throw); the probe below is still exact
    if (touched.nonEmpty) {
      // pruned read of the touched cells only, one output file per
      // cell; localCheckpoint breaks lineage so the overwrite below
      // does not read the table it rewrites
      val compacted = spark.table("graft_ivf_index_cpt")
        .filter(col("cid").isin(touched: _*))
        .repartition(touched.size, col("cid"))
        .localCheckpoint()
      compacted.write.mode(SaveMode.Overwrite)
        .insertInto("graft_ivf_index_cpt")
    }
    probeIvf(spark, probesD(spark, dir),
      "graft_ivf_centroids_cpt", "graft_ivf_index_cpt", nprobe = 2)
  }

  /** q302: drift-triggered INCREMENTAL REBUILD — the consumer that
    * closes q298's monitor→action loop (its scaladoc promises a
    * scheduler that "triggers the retrain + rebuild cycle"; this is
    * that cycle, scoped the q242 way: touch only what drifted). The
    * day-1 batch carries a deterministic drift injection (+1.5 on
    * the first 8 dimensions — a directional covariate shift, so the
    * drifted mass CONCENTRATES in the few cells facing that corner
    * and the monitor flags a strict subset: 4 of 8 cells at sf0.01).
    * Then, against the PERSISTED artifacts only:
    *
    *  1. monitor — q298's per-cell rule over the index table, with
    *     distances recomputed to each row's ASSIGNED centroid from
    *     the persisted model (a narrow map; centers ride as a
    *     literal);
    *  2. retrain flagged cells — one recenter step over the rows
    *     currently in those cells (partition-pruned scan, k×dim
    *     result), and the updated centroids REPLACE the model table
    *     (a version bump; unflagged centers are byte-identical);
    *  3. reassign ONLY the flagged cells' vectors against the
    *     updated model (read back through [[readCenters]] — the
    *     provenance discipline), then rewrite exactly the affected
    *     cell directories via dynamic partition overwrite: flagged
    *     cells get their surviving members, unflagged cells that
    *     RECEIVE migrants get old rows + migrants, every other cell
    *     directory is untouched (a flagged cell emptied by migration
    *     is dropped explicitly — dynamic overwrite cannot write an
    *     empty partition).
    *
    * The report (per cell: flagged, population before/after, the
    * 9-rounded squared centroid shift) reads the POST-maintenance
    * artifact; the oracle re-derives the whole chain — drift
    * injection, frozen-model assignment, flags, recenter,
    * reassignment — from the base tables, so incremental maintenance
    * must be exactly equal to the from-scratch derivation on the
    * flagged subset. At 100 TB the cost is the monitor's one narrow
    * pass plus work proportional to the DRIFTED cells' population,
    * never the index size. */
  def q302IvfDriftRebuild(spark: SparkSession, dir: String): DataFrame = {
    val cent = "graft_ivf_centroids_rb"
    val idxT = "graft_ivf_index_rb"
    val e = Similarity.embDouble(spark, dir)
    val isNew = col("vec_id") % 10 === 7
    val drifted = e.withColumn("v",
      when(isNew, transform(col("v"),
        (x, i) => when(i < 8, x + 1.5d).otherwise(x)))
        .otherwise(col("v")))
    buildIvf(spark, drifted.filter(!isNew), 8, cent, idxT)
    val centers = readCenters(spark, cent, 8)
    Similarity.lloydAssign(drifted.filter(isNew), centers)
      .select(col("vec_id"), col("v"), col("cid"))
      .write.mode(SaveMode.Append).insertInto(idxT)
    // ---- 1. monitor, from the persisted artifacts ----
    // q298's rule via the SHARED driftAgg — the trigger can never
    // desync from the monitor it consumes
    val centersLit = typedlit(centers)
    val monitored = driftAgg(spark.table(idxT)
        .withColumn("dist", round(Similarity.sqDist(col("v"),
          element_at(centersLit, col("cid") + 1)), 9))
        .withColumn("is_new", col("vec_id") % 10 === 7))
      .localCheckpoint() // k rows: feeds the flag set AND the report
    rebuildDrifted(spark, monitored, centers, cent, idxT,
      Seq("vec_id", "v"))
  }

  /** The drift-rebuild tail q302 and q327 share: steps 2 and 3 of
    * q302's cycle, then the report. Retrain the cells `monitored`
    * flags (pruned scan, k×dim result) and version-bump the model
    * table `cent`; reassign ONLY the flagged cells' vectors against
    * the updated model (read back through [[readCenters]] — the
    * provenance discipline), carrying the index columns `carry`;
    * rewrite exactly the affected cell directories of `idxT` through
    * its dynamic partition overwrite, and drop the flagged cells that
    * migration emptied (dynamic overwrite cannot write an empty
    * partition). The report reads the post-maintenance artifact. */
  private def rebuildDrifted(spark: SparkSession, monitored: DataFrame,
      centers: IndexedSeq[IndexedSeq[Double]], cent: String, idxT: String,
      carry: Seq[String]): DataFrame = {
    import spark.implicits._
    val flagged = monitored.filter(col("drift_flag"))
      .select(col("cid")).collect().map(_.getInt(0)).toSet
    if (flagged.isEmpty)
      return monitored.select(col("cid"),
        col("drift_flag").as("flagged"),
        (col("n_base") + col("n_new")).as("n_before"),
        (col("n_base") + col("n_new")).as("n_after"),
        lit(0.0d).as("center_shift"))
        .orderBy(col("cid"))
    val fl = flagged.toSeq.sorted
    // ---- 2. retrain flagged cells (pruned scan, k×dim result) ----
    val retrained = spark.table(idxT)
      .filter(col("cid").isin(fl: _*))
      .select(col("cid"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy(col("cid"), col("pos"))
      .agg(round(avg(col("x")), 9).as("m"))
      .groupBy(col("cid"))
      .agg(expr("transform(array_sort(collect_list(struct(pos, m))), " +
        "s -> s.m)").as("c"))
      .collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1).toIndexedSeq).toMap
    val updated = centers.zipWithIndex.map { case (c, i) =>
      retrained.getOrElse(i, c) }
    updated.zipWithIndex.map { case (c, i) => (i, c) }.toDF("cid", "c")
      .write.mode(SaveMode.Overwrite).saveAsTable(cent)
    val centers2 = readCenters(spark, cent, centers.size)
    // ---- 3. reassign flagged cells' vectors, rewrite affected ----
    val cols = (carry :+ "cid").map(col)
    val reassigned = Similarity.lloydAssign(
        spark.table(idxT).filter(col("cid").isin(fl: _*))
          .select(carry.map(col): _*), centers2)
      .select(cols: _*)
      .localCheckpoint()
    val targets = reassigned.select(col("cid")).distinct()
      .collect().map(_.getInt(0)).toSet
    val receivers = (targets -- flagged).toSeq.sorted
    val newContents =
      if (receivers.isEmpty) reassigned
      else reassigned.unionByName(
        spark.table(idxT).filter(col("cid").isin(receivers: _*))
          .select(cols: _*)
          .localCheckpoint())
    newContents.write.mode(SaveMode.Overwrite).insertInto(idxT)
    Scale.dropPartitions(spark, idxT,
      (flagged -- targets).toSeq.sorted.map(c => s"cid=$c"))
    // ---- report, from the post-maintenance artifact ----
    val after = spark.table(idxT).groupBy(col("cid"))
      .agg(count(lit(1)).as("n_after"))
    val centersLit = typedlit(centers)
    val c2Lit = typedlit(updated)
    monitored.join(after, Seq("cid"), "left")
      .select(col("cid"), col("drift_flag").as("flagged"),
        (col("n_base") + col("n_new")).as("n_before"),
        coalesce(col("n_after"), lit(0L)).as("n_after"),
        when(col("drift_flag"),
          round(Similarity.sqDist(element_at(centersLit, col("cid") + 1),
            element_at(c2Lit, col("cid") + 1)), 9))
          .otherwise(lit(0.0d)).as("center_shift"))
      .orderBy(col("cid"))
  }

  // ----------------------------------------------------------- PQ

  private val nSub = 4
  private val subDim = 16
  private val pqK = 8

  /** q296: product-quantization codebooks + codes as PERSISTED tables,
    * probe via ADC from the persisted artifact. Per 16-dim subspace a
    * deterministic k=8 Lloyd codebook is trained (the q248 chain run
    * on the vector SLICES) and saved to `graft_pq_codebooks`
    * (s, code, c); every vector's 4 nearest-centroid codes collapse
    * to ONE row in `graft_pq_codes` (vec_id, codes) — the 64×-
    * compressed representation that is the artifact's point —
    * bucketed by vec_id, the key downstream lookups join on.
    *
    * The probe consumes ONLY the two tables: the ADC distance grid
    * (probe × subspace × centroid = 5×4×8 rows) is a crossjoin of the
    * probe set with the codebook TABLE, approximate distance is a sum
    * of 4 grid lookups per candidate (posexplode(codes) ⋈ broadcast
    * grid — the scan streams once, no retraining, no full-vector
    * reads), the top-20 shortlist re-ranks with exact cosine against
    * the corpus (20 = 2× q98's shortlist: the deterministic k=8
    * codebooks are coarser than q98's k=16, so the re-rank pool buys
    * the recall back — measured in VectorIndexSpec). Every distance is 9-rounded and the per-candidate
    * sum is an exact decimal of rounded terms, so shortlist
    * membership, tie-breaks, and the final order are engine-portable
    * — the oracle mirrors all four subspace codebooks and the ADC
    * arithmetic, making this the hash-checked twin the in-query q98
    * (MLlib codebooks, rows-only) never had. */
  def q296PqPersistedProbe(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Scale.dropManaged(spark, "graft_pq_codebooks")
    Scale.dropManaged(spark, "graft_pq_codes")
    val e = Similarity.embDouble(spark, dir)
    // one deterministic Lloyd codebook per subspace, over the slices
    val codebooks: Seq[(Int, Seq[Seq[Double]])] = (0 until nSub).map { s =>
      val es = e.select(col("vec_id"),
        slice(col("v"), s * subDim + 1, subDim).as("v"))
      (s, Similarity.centersOf(es, pqK))
    }
    codebooks.flatMap { case (s, cb) =>
      cb.zipWithIndex.map { case (c, code) => (s, code, c) }
    }.toDF("s", "code", "c")
      .write.mode(SaveMode.Overwrite).saveAsTable("graft_pq_codebooks")
    // encode: per subspace, nearest codebook entry (9-rounded argmin,
    // lowest code on ties — lloydAssign's rule), collapsed to one
    // codes-array row per vector
    val encoded = codebooks.map { case (s, cb) =>
      Similarity.lloydAssign(
          e.select(col("vec_id"),
            slice(col("v"), s * subDim + 1, subDim).as("v")), cb)
        .select(col("vec_id"), lit(s).as("s"), col("cid").as("code"))
    }.reduce(_ unionByName _)
      .groupBy(col("vec_id"))
      .agg(expr("transform(array_sort(collect_list(struct(s, code))), " +
        "p -> p.code)").as("codes"))
    encoded.write.bucketBy(8, "vec_id").sortBy("vec_id")
      .mode(SaveMode.Overwrite).saveAsTable("graft_pq_codes")
    // ---- probe from the persisted artifact only ----
    val probes = probesD(spark, dir)
    val grid = probes.crossJoin(spark.table("graft_pq_codebooks"))
      .select(col("q_id"), col("s"), col("code"),
        round(Similarity.sqDist(
          slice(col("pv"), col("s") * subDim + 1, lit(subDim)),
          col("c")), 9).as("d"))
    val approx = spark.table("graft_pq_codes")
      .select(col("vec_id"), posexplode(col("codes")).as(Seq("s", "code")))
      .join(broadcast(grid), Seq("s", "code"))
      .filter(col("vec_id") =!= col("q_id"))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(sum(col("d").cast("decimal(28,9)")).cast("double")
        .as("approx_d"))
    val wApprox = Window.partitionBy(col("q_id"))
      .orderBy(col("approx_d").asc, col("vec_id").asc)
    val shortlist = approx
      .withColumn("crank", row_number().over(wApprox))
      .filter(col("crank") <= 20)
      .select(col("q_id"), col("vec_id"))
    val wExact = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
    shortlist
      .join(Similarity.embDouble(spark, dir), "vec_id")
      .join(broadcast(probes), Seq("q_id"))
      .select(col("q_id"), col("vec_id"),
        round(Similarity.dotD(col("pv"), col("v")) /
          (Similarity.normD(col("pv")) * Similarity.normD(col("v"))), 9)
          .as("cosine"))
      .withColumn("rank", row_number().over(wExact))
      .filter(col("rank") <= 3)
      .select(col("q_id"), col("rank"), col("vec_id"), col("cosine"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** q300: PQ reconstruction-error certificate — the compression
    * tier's counterpart of the sketch error certificates
    * (q234/q245/q246): per 16-dim subspace, the quantization error
    * the 64× compression actually costs — vector count, mean and max
    * squared distance between each slice and its assigned codebook
    * centroid (the quantity PQ training minimizes and ADC distances
    * approximate through). This is the number a vector-store owner
    * reads before trusting ADC shortlists: a subspace whose error
    * distribution degrades (new data off-manifold for its codebook)
    * is the retraining signal, exactly as q298 is for the IVF cells.
    *
    * Scale shape: per subspace one narrow assignment map (codebooks
    * ride as literals) + ONE k-free aggregate row; per-vector errors
    * are the 9-rounded lloydAssign distances summed as exact
    * decimals, so mean and max are engine-portable and the
    * certificate is hash-checked. */
  def q300PqReconstruction(spark: SparkSession, dir: String): DataFrame = {
    val e = Similarity.embDouble(spark, dir)
    val dec = "decimal(28,9)"
    (0 until nSub).map { s =>
      val es = e.select(col("vec_id"),
        slice(col("v"), s * subDim + 1, subDim).as("v"))
      Similarity.lloydAssign(es, Similarity.centersOf(es, pqK))
        .agg(count(lit(1)).as("n_vecs"),
          sum(col("dist").cast(dec)).as("err_dec"),
          max(col("dist")).as("max_sq_err"))
        .select(lit(s).as("s"), col("n_vecs"),
          round(col("err_dec").cast("double") /
            col("n_vecs").cast("double"), 9).as("mean_sq_err"),
          col("max_sq_err"))
    }.reduce(_ unionByName _).orderBy(col("s"))
  }

  /** q303: the nprobe RECALL CURVE — the tuning certificate that
    * closes the one open design question the persisted-index scaladocs
    * leave to the operator: how many cells must a probe visit for the
    * recall the application needs? q294 fixes nprobe = 2 as the
    * serving default; this query measures recall@3 against the exact
    * top-3 for nprobe ∈ {1, 2, 4, 8} from ONE build of the persisted
    * artifact, emitting the curve an operator reads before choosing
    * the probe width (at nprobe = k the probe IS exact, so the curve
    * ends at recall 1.0 by construction — the sanity anchor).
    *
    * One-pass shape: the probe panel's FULL cell ranking (panel × k
    * rows — model-state-sized) broadcasts against one scan of the
    * index table, so each (probe, candidate) cosine is computed ONCE
    * and every candidate row carries its cell's rank for its probe.
    * The exact rank is a window over all candidates per probe; the
    * per-level rank re-windows after an explode over the four levels
    * (fan-out ≤ 4×, filtered to visible cells in the same codegen
    * stage). Recall@3 for level L = |top3(L) ∩ top3(exact)| / 3,
    * counted as rank_l ≤ 3 AND rank_exact ≤ 3 on the SAME row — no
    * self-join, no second scan, no re-scoring. Everything after the
    * build reads the persisted artifact only (the q294 provenance
    * discipline); cosines and the recall round to 9 so the curve is
    * engine-portable and hash-checked. Off the serving path: at
    * 100 TB this runs on the fixed probe panel (an absolute budget,
    * the q254 convention), so its cost is panel × n regardless of
    * corpus size. */
  def q303IvfNprobeCurve(spark: SparkSession, dir: String): DataFrame = {
    val e = Similarity.embDouble(spark, dir)
    buildIvf(spark, e, 8, "graft_ivf_centroids_cur", "graft_ivf_index_cur")
    val cents = spark.table("graft_ivf_centroids_cur")
    val probes = Similarity.embDouble(spark, dir)
      .filter(col("vec_id") < 16)
      .select(col("vec_id").as("q_id"), col("v").as("pv"))
    val wCell = Window.partitionBy(col("q_id"))
      .orderBy(col("d"), col("cid"))
    val cellRank = probes.crossJoin(cents)
      .withColumn("d", round(Similarity.sqDist(col("pv"), col("c")), 9))
      .withColumn("crank", row_number().over(wCell))
      .select(col("q_id"), col("pv"), col("cid"), col("crank"))
    // one index scan; each candidate row joins exactly one (probe,
    // cell) rank row, so the cosine is computed once per pair
    val cand = spark.table("graft_ivf_index_cur")
      .join(broadcast(cellRank), Seq("cid"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), col("crank"),
        round(Similarity.dotD(col("pv"), col("v")) /
          (Similarity.normD(col("pv")) * Similarity.normD(col("v"))), 9)
          .as("cosine"))
    val wExact = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
    val wLevel = Window.partitionBy(col("nprobe"), col("q_id"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
    cand.withColumn("rank_exact", row_number().over(wExact))
      .withColumn("nprobe",
        explode(array(lit(1), lit(2), lit(4), lit(8))))
      .filter(col("crank") <= col("nprobe"))
      .withColumn("rank_l", row_number().over(wLevel))
      .groupBy(col("nprobe"))
      .agg(
        countDistinct(col("q_id")).as("n_probes"),
        sum(when(col("rank_l") <= 3 && col("rank_exact") <= 3, 1L)
          .otherwise(0L)).as("hits"))
      .withColumn("possible", col("n_probes") * 3)
      .withColumn("recall",
        round(col("hits").cast("double") /
          col("possible").cast("double"), 9))
      .select(col("nprobe"), col("n_probes"), col("hits"),
        col("possible"), col("recall"))
      .orderBy(col("nprobe"))
  }

  /** q305: DELETION PROPAGATION into the vector index — the q279
    * right-to-erasure discipline extended to the last standing
    * artifact that still remembered everyone: when a deletion request
    * arrives, the persisted IVF index must forget those vectors
    * without a rebuild and without touching anyone else's cells.
    *
    * The locate step is what makes this cheap at 100 TB: the index is
    * partitioned by cid, not vec_id, so FINDING the victims by scan
    * would read everything — instead the deletion set (request-sized,
    * bounded by contract) is re-assigned against the FROZEN persisted
    * model (read back through [[readCenters]] — the provenance
    * discipline), and because the frozen-model assignment is
    * deterministic this yields each victim's cell without reading the
    * index at all. Only those cells are then rewritten: a pruned read
    * (file-listing guarantee, the q294/q301 machinery), a BROADCAST
    * anti-join against the request set (request-sized by contract —
    * the q279 convention), one file per rewritten cell, dynamic
    * partition overwrite; a cell emptied by erasure is dropped
    * explicitly (the q302 edge). The MODEL stays frozen — erasure
    * must not leak training signal refresh; a mass deletion that
    * skews cell populations surfaces in q298's monitor and is q302's
    * job, not this query's.
    *
    * The report is the falsifiable half: `n_before`/`n_deleted` come
    * from the pre-rewrite artifact and the assignment, but `n_after`
    * is COUNTED from the post-maintenance table — if the rewrite
    * drops a bystander or misses a victim, the oracle's
    * frozen-assignment arithmetic disagrees and the hash fails.
    * DELETED IDS REMAINING AFTER THE REWRITE WOULD SURFACE AS
    * n_after > n_before − n_deleted. */
  def q305IvfDeletion(spark: SparkSession, dir: String): DataFrame = {
    val cent = "graft_ivf_centroids_del"
    val idxT = "graft_ivf_index_del"
    val e = Similarity.embDouble(spark, dir)
    buildIvf(spark, e, 8, cent, idxT)
    val isDel = col("vec_id") % 10 === 3
    // locate victims WITHOUT reading the index: frozen-model
    // re-assignment of the (bounded) request set
    val centers = readCenters(spark, cent, 8)
    val delAssigned = Similarity.lloydAssign(e.filter(isDel), centers)
      .select(col("vec_id"), col("cid"))
      .localCheckpoint() // request-sized; feeds counts, cells, and the anti-join
    val touched = delAssigned.select(col("cid")).distinct()
      .collect().map(_.getInt(0)).toSeq.sorted
    val before = spark.table(idxT).groupBy(col("cid"))
      .agg(count(lit(1)).as("n_before"))
      .localCheckpoint() // k rows, pre-rewrite
    // pruned rewrite of the touched cells only, victims anti-joined
    // out; an EMPTY request set touches no cell — skip the rewrite
    // entirely (repartition(0) would throw) and the report below
    // degenerates to per-cell (n_before, 0, n_before, false)
    if (touched.nonEmpty) {
      val survivors = spark.table(idxT)
        .filter(col("cid").isin(touched: _*))
        .join(broadcast(delAssigned.select(col("vec_id"))),
          Seq("vec_id"), "left_anti")
        .repartition(touched.size, col("cid"))
        .localCheckpoint()
      val kept = survivors.select(col("cid")).distinct()
        .collect().map(_.getInt(0)).toSet
      survivors.write.mode(SaveMode.Overwrite).insertInto(idxT)
      Scale.dropPartitions(spark, idxT,
        touched.filterNot(kept).map(c => s"cid=$c"))
    }
    // report: n_after COUNTED from the post-maintenance artifact
    val deleted = delAssigned.groupBy(col("cid"))
      .agg(count(lit(1)).as("n_deleted"))
    val after = spark.table(idxT).groupBy(col("cid"))
      .agg(count(lit(1)).as("n_after"))
    before
      .join(deleted, Seq("cid"), "left")
      .join(after, Seq("cid"), "left")
      .select(col("cid"), col("n_before"),
        coalesce(col("n_deleted"), lit(0L)).as("n_deleted"),
        coalesce(col("n_after"), lit(0L)).as("n_after"),
        (coalesce(col("n_deleted"), lit(0L)) > 0L).as("touched"))
      .orderBy(col("cid"))
  }

  /** q306: the GATE RECALL certificate — q290's measured-banding-
    * recall discipline applied to the streaming vector gate
    * ([[graft.streaming.StreamVectorGate]] q304), completing the
    * measurement symmetry between the two dedup families (text:
    * q213 banding / q290 band / q297 SimHash recall; vectors: q303
    * probe recall / THIS gate recall). The gate admits a near-dup
    * whose indexed twin lives outside the arrival's two probed
    * cells; this query measures how often, against the EXACT
    * new-vs-base cosine relation at the gate's own threshold
    * (q30's 0.45), decomposed by which probe rank caught each pair
    * — the evidence an operator reads before widening nprobe (the
    * knob q303 prices).
    *
    * Certificate-by-role shape (the q30/q213 acceptance): the exact
    * side is the quadratic new × base scan — off the serving path,
    * the reference the gate is graded against. The gate side is
    * re-derived in batch from the SAME persisted artifact the gate
    * probes: the arrival panel's 2-cell ranking against the
    * centroid table, matched to each exact pair's indexed cell.
    * Everything rounds to 9 before compare, so both sides are
    * engine-portable and the certificate is hash-checked. */
  def q306GateRecall(spark: SparkSession, dir: String): DataFrame = {
    val e = Similarity.embDouble(spark, dir)
    val isNew = col("vec_id") % 10 === 7
    buildIvf(spark, e.filter(!isNew), 8,
      "graft_ivf_centroids_gr", "graft_ivf_index_gr")
    val cents = spark.table("graft_ivf_centroids_gr")
    val newv = e.filter(isNew)
      .select(col("vec_id").as("vec_new"), col("v").as("nv"))
    val wCell = Window.partitionBy(col("vec_new"))
      .orderBy(col("d"), col("cid"))
    val probed = newv.crossJoin(cents)
      .withColumn("d", round(Similarity.sqDist(col("nv"), col("c")), 9))
      .withColumn("crank", row_number().over(wCell))
      .filter(col("crank") <= 2)
      .select(col("vec_new").as("p_new"), col("cid").as("p_cid"),
        col("crank"))
    // exact side reads the INDEX's stored vectors (provenance: the
    // certificate grades the artifact the gate actually probes)
    val base = spark.table("graft_ivf_index_gr")
      .select(col("vec_id").as("vec_dup"), col("v").as("bv"),
        col("cid").as("bcid"))
    val exact = newv.join(base,
        round(Similarity.dotD(col("nv"), col("bv")) /
          (Similarity.normD(col("nv")) * Similarity.normD(col("bv"))), 9)
          >= 0.45)
      .select(col("vec_new"), col("vec_dup"), col("bcid"))
    exact.join(probed,
        col("vec_new") === col("p_new") && col("bcid") === col("p_cid"),
        "left")
      .agg(count(lit(1)).as("n_exact"),
        sum(when(col("crank").isNotNull, 1L).otherwise(0L))
          .as("n_caught"),
        sum(when(col("crank") === 1, 1L).otherwise(0L)).as("n_rank1"),
        sum(when(col("crank") === 2, 1L).otherwise(0L)).as("n_rank2"))
      .select(col("n_exact"), col("n_caught"), col("n_rank1"),
        col("n_rank2"),
        round(col("n_caught").cast("double") /
          col("n_exact").cast("double"), 9).as("recall"))
  }

  // --------------------- changelog-planned index maintenance (q327)

  private[graft] val VdData = "graft_snap_emb_vd"
  private[graft] val VdManifest = "graft_snap_manifest_vd"
  private[graft] val VdCentroids = "graft_ivf_centroids_vd"
  private[graft] val VdIndex = "graft_ivf_index_vd"
  private[graft] val VdBindings = "graft_artifact_bindings_vd"

  /** Fresh segments of the versioned embedding corpus — the v1→v2
    * manifest diff (metadata arithmetic, the q312/q320 move). */
  private[graft] def vdFresh(spark: SparkSession): Seq[String] =
    (graft.operators.TableFormat.commitsOf(spark, VdManifest, 2) --
      graft.operators.TableFormat.commitsOf(spark, VdManifest, 1))
      .toSeq.sorted

  /** The churn read of the versioned embedding corpus: ONLY the
    * fresh partitions the manifest diff names — ONE definition
    * consumed by the nightly job and by VectorIndexSpec's
    * partitions-read assertion, so the spec certifies the same read
    * the job runs (the q320/cdChurn discipline, one tier over). */
  private[graft] def vdChurn(spark: SparkSession): DataFrame = {
    val fresh = vdFresh(spark)
    spark.table(VdData)
      .filter(col("commit_id").isin(fresh: _*))
      .select(col("vec_id"), col("v"), col("commit_id"))
  }

  /** CHANGELOG-PLANNED incremental VECTOR-INDEX maintenance — q320's
    * composition applied one tier over, closing the r10 verdict's #1
    * residual: q295/q302 maintain the IVF artifact correctly but
    * learn "what is new" from a fixture predicate; a 100 TB
    * embedding corpus is versioned exactly like the text corpus, so
    * the nightly job must plan from the corpus's v(n)→v(n+1)
    * manifest diff instead. Here the embedding corpus is a
    * snapshot-versioned table (v1 = the standing corpus in three
    * hash segments e0–e2, v2 = v1 + today's ingest commit e3 — which
    * carries q302's deterministic drift injection, so the new data
    * is off-manifold by construction), and the whole maintenance
    * cycle runs from standing artifacts plus the diff:
    *
    *  - yesterday (v1 publish time): the IVF model + cell-
    *    partitioned index build from a v1 manifest-pruned read and
    *    persist; every index row carries its SOURCE COMMIT — the
    *    provenance column that later makes "which rows are new"
    *    artifact arithmetic instead of a corpus predicate.
    *  - today (v2): fresh segments = v2 ∖ v1 — METADATA arithmetic;
    *    the corpus table is scanned ONLY at those partitions
    *    (spec-asserted through the one shared [[vdChurn]]
    *    definition), assigned ONLINE under the frozen persisted
    *    model (q295's append path), and appended into the index.
    *  - monitor: q298's per-cell rule (the shared [[driftAgg]]) over
    *    the index artifact, with `is_new` = src_commit ∈ fresh — the
    *    corpus is never re-read.
    *  - rebuild: q302's scoped cycle for the flagged cells — retrain
    *    from the pruned index read, version-bump the model table,
    *    reassign only the flagged cells' vectors, dynamic-overwrite
    *    only the affected cell directories.
    *
    * Output and oracle are exactly q302's (the from-scratch
    * derivation on the same split): the planning composition must be
    * invisible in the answer — what moved is the INPUT cost, from
    * O(corpus) to O(churn), the same contract q320 proved for the
    * text family. At 100 TB this is the recurring job of an
    * embedding pipeline: serving cost follows the day's ingest, and
    * the drift loop runs without ever scanning the standing
    * corpus. */
  def q327ChangelogIvfMaintenance(spark: SparkSession,
      dir: String): DataFrame = {
    import spark.implicits._
    Seq(VdData, VdManifest, VdCentroids, VdIndex)
      .foreach(Scale.dropManaged(spark, _))
    graft.operators.TableFormat.initBindings(spark, VdBindings)
    val e = Similarity.embDouble(spark, dir)
    val isNew = col("vec_id") % 10 === 7
    val drifted = e.withColumn("v",
      when(isNew, transform(col("v"),
        (x, i) => when(i < 8, x + 1.5d).otherwise(x)))
        .otherwise(col("v")))
    // versioned corpus: standing segments hash-cut (e0..e2), the
    // ingest batch its own commit (e3) — visibility is the manifest's
    val seg = when(isNew, lit("e3"))
      .otherwise(concat(lit("e"), (col("vec_id") % 3).cast("string")))
    drifted.withColumn("commit_id", seg)
      .write.partitionBy("commit_id")
      .mode(SaveMode.Overwrite).saveAsTable(VdData)
    Seq((1, "e0"), (1, "e1"), (1, "e2"),
      (2, "e0"), (2, "e1"), (2, "e2"), (2, "e3"))
      .toDF("version", "commit_id")
      .write.mode(SaveMode.Overwrite).saveAsTable(VdManifest)

    // yesterday: model + index from the v1-pruned read, rows
    // stamped with their source commit
    val v1 = graft.operators.TableFormat
      .readVersion(spark, VdData, VdManifest, 1)
      .select(col("vec_id"), col("v"), col("commit_id"))
    val centers0 = Similarity.centersOf(
      v1.select(col("vec_id"), col("v")), 8)
    centers0.zipWithIndex.map { case (c, i) => (i, c) }.toDF("cid", "c")
      .write.mode(SaveMode.Overwrite).saveAsTable(VdCentroids)
    Similarity.lloydAssign(v1, centers0)
      .select(col("vec_id"), col("v"),
        col("commit_id").as("src_commit"), col("cid"))
      .write.partitionBy("cid")
      .option("partitionOverwriteMode", "dynamic")
      .mode(SaveMode.Overwrite).saveAsTable(VdIndex)
    graft.operators.TableFormat.bindArtifact(spark, VdBindings,
      VdIndex, VdManifest, 1)

    // today: churn-only corpus read (manifest diff), online
    // assignment under the FROZEN persisted model, index append
    val fresh = vdFresh(spark)
    val centers = readCenters(spark, VdCentroids, 8)
    Similarity.lloydAssign(vdChurn(spark), centers)
      .select(col("vec_id"), col("v"),
        col("commit_id").as("src_commit"), col("cid"))
      .write.mode(SaveMode.Append).insertInto(VdIndex)
    // version-binding stamp (q333's contract): the index now covers
    // v2 of the corpus — the monitor/rebuild below are artifact-
    // internal maintenance at the SAME bound version
    graft.operators.TableFormat.bindArtifact(spark, VdBindings,
      VdIndex, VdManifest, 2)
    graft.operators.TableFormat.requireFresh(spark, VdBindings, VdIndex)

    // monitor from the standing artifacts only: is_new is ARTIFACT
    // arithmetic (src_commit ∈ fresh) — the corpus is not re-read
    val centersLit = typedlit(centers)
    val monitored = driftAgg(spark.table(VdIndex)
        .withColumn("dist", round(Similarity.sqDist(col("v"),
          element_at(centersLit, col("cid") + 1)), 9))
        .withColumn("is_new", col("src_commit").isin(fresh: _*)))
      .localCheckpoint() // k rows: feeds the flag set AND the report
    // rebuild: q302's scoped cycle for the flagged cells; src_commit
    // rides through the reassignment, so provenance survives
    // maintenance, and the report is q302's shape under q302's
    // oracle — the composition must be invisible in the answer
    rebuildDrifted(spark, monitored, centers, VdCentroids, VdIndex,
      Seq("vec_id", "v", "src_commit"))
  }
}
