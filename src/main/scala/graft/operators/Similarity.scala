package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.{Aggregator, Window}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.VectorExprs

/** Similarity search over the `embeddings` table (64-dim float vectors) —
  * the LLM-pipeline extension surface (SURVEY.md §2B "Similarity search").
  *
  * Four operators, from oracle-checkable exact to 100 TB approximate:
  *
  *  - q27 exact top-k: brute-force cosine against a small broadcast query
  *    set + window rank. The scan side streams once; correct baseline.
  *  - q28 the same semantics through a typed `Aggregator` (top-k heap):
  *    partial aggregation keeps k rows per partition, so the shuffle
  *    carries k·#queries rows instead of #candidates — the plan you want
  *    when the candidate side is 100 TB. Shares q27's oracle.
  *  - q29 LSH ANN: random-hyperplane sign buckets, 4 hash tables; only
  *    same-bucket candidates are scored. Approximate → rows-only.
  *  - q30 embedding near-dup: exact all-pairs cosine >= 0.5 as the
  *    oracle-checked twin; at scale run the same threshold inside q29's
  *    buckets instead (documented, not the default, because recall < 1).
  *
  * All dot products are native higher-order functions (zip_with +
  * aggregate) evaluated in double precision as a sequential left fold —
  * bitwise-reproducible against the DuckDB oracle's identical fold.
  */
object Similarity {

  /** Sequential-fold dot product in double precision — the native
    * codegen expression (functions.FloatVecDot). Deterministic:
    * float→double widening is exact and the fold order is list order,
    * bitwise-matching the oracle's fold. */
  private def dot(a: Column, b: Column): Column = VectorExprs.vecDot(a, b)

  private def cosine(a: Column, b: Column): Column =
    dot(a, b) / sqrt(dot(a, a) * dot(b, b))

  /** The query set: 5 probe vectors, broadcast to every executor. */
  private def probes(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir).filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))

  /** Candidates scored against every probe (self excluded). Broadcast
    * nested-loop join: the big side streams through once, no shuffle.
    * Norms are projected BEFORE the join — one norm per row, not one
    * per pair; the cosine value (dot / sqrt(na*nb)) is bitwise
    * unchanged because the norm is the same pure fold either way. */
  private def scored(spark: SparkSession, dir: String): DataFrame = {
    val q = probes(spark, dir)
      .withColumn("q_norm", dot(col("q_emb"), col("q_emb")))
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
      .withColumn("c_norm", dot(col("embedding"), col("embedding")))
      .join(broadcast(q), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        (dot(col("q_emb"), col("embedding")) /
          sqrt(col("q_norm") * col("c_norm"))).as("cosine"))
  }

  /** Exact cosine top-10 per probe via window rank. One shuffle on q_id.
    * Fine for few probes; q28 is the scale-path twin. */
  def q27CosineTopK(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
    scored(spark, dir)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
      .select(col("q_id"), col("rank"), col("vec_id"), col("cosine"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** Same result through the typed-Aggregator (UDAF) surface: per-
    * partition top-k heaps merge associatively, so the exchange after
    * partial aggregation carries at most k rows per probe per partition
    * — the brute-force-exact plan that still works when candidates are
    * 100 TB. Oracle: identical SQL to q27 (same deterministic order). */
  def q28TopKUdaf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    scored(spark, dir).as[(Long, Long, Double)]
      .groupByKey(_._1)
      .agg(TopKAgg.topK(10).toColumn)
      .flatMap { case (qId, hits) =>
        hits.zipWithIndex.map { case ((cos, vecId), i) =>
          (qId, i + 1, vecId, cos)
        }
      }
      .toDF("q_id", "rank", "vec_id", "cosine")
      .orderBy(col("q_id"), col("rank"))
  }

  /** q274: embedding dimension-ablation certificate — the retrieval-
    * quality report behind a Matryoshka-style truncation decision:
    * score exact cosine top-10 with only the first 16 / 32 of the 64
    * dims and measure recall against the full-dimension top-10 anchor
    * (20 probe queries). Both sides are EXACT brute force, so the
    * recall numbers are properties of the embedding geometry, not of
    * an index — this is the study a team runs before halving its
    * vector storage and bandwidth, and the certificate that makes the
    * saving auditable.
    *
    * Scale shape: the same broadcast-probe scan as q27 run three
    * times (once per dim variant) — candidates stream once per
    * variant, no shuffle beyond the per-probe top-k; recall joins and
    * the final 2-row report are metadata-sized. Mean/min recall stay
    * integer (intersection counts) until the final division. */
  /** Exact cosine top-10 per probe (vec_id < 20) using only the first
    * `d` dims — (q_id, vec_id, rank). Shared by the recall (q274) and
    * nDCG (q281) ablation reports. */
  private def truncatedTopK(spark: SparkSession, dir: String,
      d: Int): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    def sliced(c: Column): Column = if (d == 64) c else slice(c, 1, d)
    val q = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("q_id"), sliced(col("embedding")).as("q_emb"))
      .withColumn("q_norm", dot(col("q_emb"), col("q_emb")))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
    emb.select(col("vec_id"), sliced(col("embedding")).as("emb"))
      .withColumn("c_norm", dot(col("emb"), col("emb")))
      .join(broadcast(q), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        (dot(col("q_emb"), col("emb")) /
          sqrt(col("q_norm") * col("c_norm"))).as("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
      .select(col("q_id"), col("vec_id"), col("rank"))
  }

  def q274DimAblation(spark: SparkSession, dir: String): DataFrame = {
    def topk(d: Int): DataFrame =
      truncatedTopK(spark, dir, d).select(col("q_id"), col("vec_id"))
    val full = topk(64).localCheckpoint(eager = false)
    Seq(16, 32).map { d =>
      val inter = topk(d).join(full, Seq("q_id", "vec_id"))
        .groupBy(col("q_id")).agg(count(lit(1)).as("hits"))
      full.select(col("q_id")).distinct()
        .join(inter, Seq("q_id"), "left")
        .select(coalesce(col("hits"), lit(0L)).as("hits"))
        .agg(count(lit(1)).as("n_queries"), sum(col("hits")).as("total_hits"),
          min(col("hits")).as("min_hits"))
        .select(lit(d).as("dim"), col("n_queries"), col("total_hits"),
          round(col("total_hits").cast("double") /
            (col("n_queries") * 10L).cast("double"), 9).as("mean_recall"),
          round(col("min_hits").cast("double") / 10.0d, 9).as("min_recall"))
    }.reduce(_ unionByName _).orderBy(col("dim"))
  }

  /** q281: nDCG ablation — the graded companion to q274's recall.
    * Relevance is binary membership in the full-dimension top-10; the
    * truncated ranking's DCG@10 (Σ rel_i / log2(i+1)) is divided by
    * the ideal DCG (all ten relevant up front), so the metric rewards
    * putting the true neighbors EARLY, which recall@10 cannot see.
    * Per-rank gain terms round to 9 and decimal-sum (order-free); the
    * ideal DCG is computed by the same formula from a 10-row range so
    * both engines derive the identical constant.
    *
    * Scale shape: identical to q274 (three broadcast-probe scans);
    * everything after the top-10s is metadata-sized. */
  def q281NdcgAblation(spark: SparkSession, dir: String): DataFrame = {
    val full = truncatedTopK(spark, dir, 64)
      .select(col("q_id"), col("vec_id")).localCheckpoint(eager = false)
    val idcg = spark.range(1L, 11L)
      .agg(sum(round(lit(1.0d) /
        log2(col("id").cast("double") + 1.0d), 9).cast("decimal(28,9)"))
        .cast("double").as("idcg"))
    Seq(16, 32).map { d =>
      val dcg = truncatedTopK(spark, dir, d)
        .join(full, Seq("q_id", "vec_id"))
        .groupBy(col("q_id"))
        .agg(sum(round(lit(1.0d) /
          log2(col("rank").cast("double") + 1.0d), 9)
          .cast("decimal(28,9)")).cast("double").as("dcg"))
      full.select(col("q_id")).distinct()
        .join(dcg, Seq("q_id"), "left")
        .crossJoin(broadcast(idcg))
        .select(round(coalesce(col("dcg"), lit(0.0d)) / col("idcg"), 9)
          .as("ndcg"))
        .agg(count(lit(1)).as("n_queries"),
          round(sum(col("ndcg").cast("decimal(28,9)")).cast("double") /
            count(lit(1)).cast("double"), 9).as("mean_ndcg"),
          min(col("ndcg")).as("min_ndcg"))
        .select(lit(d).as("dim"), col("n_queries"), col("mean_ndcg"),
          col("min_ndcg"))
    }.reduce(_ unionByName _).orderBy(col("dim"))
  }

  /** q280: hybrid retrieval via reciprocal rank fusion — the standard
    * way a serving stack combines a lexical arm (q151's BM25 over the
    * fixed text query) with a semantic arm (exact cosine against probe
    * vector 0, vec_id ≡ doc_id in this fixture) without calibrating
    * their incomparable scores: each arm contributes 1/(60+rank) for
    * its top-20, fused top-10 wins. Rank-based fusion is score-scale-
    * free, which is exactly why production engines default to it.
    *
    * Scale shape: each arm is an existing proven plan ending in
    * TakeOrderedAndProject(20); ranking windows run ON the 20-row
    * results, the fusion is a 20∪20 full-outer join. Reciprocal terms
    * round to 9 before summing. */
  def q280RankFusion(spark: SparkSession, dir: String): DataFrame = {
    val wLex = Window.orderBy(col("bm25").desc, col("doc_id"))
    val lex = TextStats.bm25Scores(spark, dir)
      .orderBy(col("bm25").desc, col("doc_id")).limit(20)
      .withColumn("rank_lex", row_number().over(wLex))
      .select(col("doc_id"), col("rank_lex"))
    val emb = Tables.embeddings(spark, dir)
    val probe = emb.filter(col("vec_id") === 0)
      .select(col("embedding").as("q_emb"))
    val wSem = Window.orderBy(col("cos").desc, col("doc_id"))
    val sem = emb.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(probe))
      .select(col("vec_id").as("doc_id"),
        cosine(col("embedding"), col("q_emb")).as("cos"))
      .orderBy(col("cos").desc, col("doc_id")).limit(20)
      .withColumn("rank_sem", row_number().over(wSem))
      .select(col("doc_id"), col("rank_sem"))
    val wF = Window.orderBy(col("rrf").desc, col("doc_id"))
    lex.join(sem, Seq("doc_id"), "full_outer")
      .withColumn("rrf", round(
        coalesce(round(lit(1.0d) /
          (lit(60.0d) + col("rank_lex").cast("double")), 9), lit(0.0d)) +
        coalesce(round(lit(1.0d) /
          (lit(60.0d) + col("rank_sem").cast("double")), 9), lit(0.0d)),
        9))
      .orderBy(col("rrf").desc, col("doc_id")).limit(10)
      .withColumn("fused_rank", row_number().over(wF))
      .select(col("fused_rank"), col("doc_id"), col("rank_lex"),
        col("rank_sem"), col("rrf"))
      .orderBy(col("fused_rank"))
  }

  /** Deterministic random hyperplanes: 4 tables × 4 planes × 64 dims. */
  private[operators] val planes: Seq[Seq[Seq[Double]]] = {
    val rng = new scala.util.Random(42)
    Seq.fill(4)(Seq.fill(4)(Seq.fill(64)(rng.nextGaussian())))
  }

  /** 4-bit sign bucket of a vector under table t's hyperplanes. */
  private def bucketKey(emb: Column, t: Int): Column =
    planes(t).zipWithIndex.map { case (p, i) =>
      when(dot(typedLit(p.map(_.toFloat)), emb) >= 0, lit(1 << i))
        .otherwise(lit(0))
    }.reduce(_ + _)

  /** (id, table, bucket) pairs — one row per hash table per vector. */
  private def buckets(df: DataFrame, id: Column, emb: Column): DataFrame =
    df.select(id.as("id"), emb.as("emb"),
        posexplode(array(planes.indices.map(t => bucketKey(emb, t)): _*)))
      .withColumnRenamed("pos", "tbl")
      .withColumnRenamed("col", "bucket")

  /** ANN top-3 per probe: score only candidates that share an LSH bucket
    * with the probe in at least one of the 4 tables. The join shuffles
    * on (tbl, bucket) — bucket population, not n², bounds the work; more
    * planes per table sharpen buckets as the corpus grows. Approximate
    * (recall < 1 on purpose) → rows-only in the driver gate. */
  def q29AnnLsh(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val qb = buckets(probes(spark, dir), col("q_id"), col("q_emb"))
      .select(col("id").as("q_id"), col("emb").as("q_emb"),
        col("tbl"), col("bucket"))
    val cb = buckets(e, col("vec_id"), col("embedding"))
      .select(col("id").as("vec_id"), col("emb").as("c_emb"),
        col("tbl"), col("bucket"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
    cb.join(broadcast(qb), Seq("tbl", "bucket"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        cosine(col("q_emb"), col("c_emb")).as("cosine"))
      .distinct() // same pair can collide in several tables
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("q_id"), col("rank"), col("vec_id"), col("cosine"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** IVF (inverted-file) ANN: a coarse k-means quantizer assigns every
    * vector to one of 16 cells at index-build time; queries probe only
    * their `nprobe`=4 nearest cells, so the scored candidate set is
    * ~nprobe/k of the corpus. The centroid table is tiny and lives on
    * the driver/broadcast; candidate scoring joins on the cell id —
    * the standard big-corpus ANN layout (train once, partition the
    * corpus BY cell so each probe touches few partitions). Approximate
    * → rows-only; exact twins q27/q28. */
  def q53AnnIvf(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val e = Tables.embeddings(spark, dir)
      .withColumn("vec", array_to_vector(col("embedding")))
    val model = new KMeans().setK(16).setSeed(42).setMaxIter(5)
      .setFeaturesCol("vec").fit(e)
    val cells = model.transform(e)
      .select(col("vec_id"), col("embedding"), col("prediction").as("cell"))
    val centroids = model.clusterCenters.map(_.toArray.map(_.toFloat))
    // probe's nprobe nearest cells by centroid distance — k×dim is
    // driver-trivial at any corpus scale (16×64 here)
    val probeCells = probes(spark, dir).collect().flatMap { r =>
      val qId = r.getLong(0)
      val qEmb = r.getSeq[Float](1).toArray
      centroids.zipWithIndex.map { case (c, i) =>
        val d2 = c.zip(qEmb).map { case (a, b) =>
          val d = a.toDouble - b.toDouble; d * d
        }.sum
        (qId, i, d2)
      }.sortBy(_._3).take(4).map { case (q, cell, _) => (q, cell) }
    }
    import spark.implicits._
    val probeCellsDf = probeCells.toSeq.toDF("q_id", "cell")
      .join(probes(spark, dir), "q_id")
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
    cells.join(broadcast(probeCellsDf), Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        cosine(col("q_emb"), col("embedding")).as("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("q_id"), col("rank"), col("vec_id"), col("cosine"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** Embedding near-duplicate pairs: exact cosine >= 0.45 over all pairs.
    * This is the oracle-checked exact twin (quadratic — fine as a
    * correctness anchor); the 100 TB path is [[signLshNearDup]], which
    * runs the same predicate inside LSH buckets so the join never goes
    * all-pairs. Production consumers (q122) use the banded path; this
    * anchor exists to measure its recall. */
  def q30EmbedNearDup(spark: SparkSession, dir: String): DataFrame =
    exactNearDupPairs(spark, dir).orderBy(col("vec_a"), col("vec_b"))

  /** Unordered core of q30 — the exact (vec_a, vec_b, cosine) pair
    * set. Kept separate so measurement consumers (q213) don't inherit
    * the display sort's range exchange. */
  private def exactNearDupPairs(spark: SparkSession, dir: String): DataFrame = {
    val a = Tables.embeddings(spark, dir)
      .select(col("vec_id").as("vec_a"), col("embedding").as("emb_a"))
      .withColumn("norm_a", dot(col("emb_a"), col("emb_a")))
    val b = Tables.embeddings(spark, dir)
      .select(col("vec_id").as("vec_b"), col("embedding").as("emb_b"))
      .withColumn("norm_b", dot(col("emb_b"), col("emb_b")))
    a.join(b, col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        (dot(col("emb_a"), col("emb_b")) /
          sqrt(col("norm_a") * col("norm_b"))).as("cosine"))
      .filter(col("cosine") >= 0.45)
  }

  /** Banded embedding near-dup: the 100 TB path for q30's predicate.
    * Candidates come from sign-LSH buckets — 4 hash tables, each keyed
    * by the sign bits of 4 embedding dimensions (axis-aligned
    * hyperplanes: the same LSH family as q29's random planes, chosen
    * here because a sign test involves NO float arithmetic and is
    * therefore bitwise portable to any oracle engine) — and only
    * same-bucket pairs are scored with exact cosine, so the join
    * shuffles on (tbl, bucket) and work is bounded by bucket
    * population (~n²/16 per table at this width), never n². Scaling
    * knobs are standard LSH tuning: more bits per table sharpen
    * buckets as the corpus grows; more tables buy back the recall the
    * extra bits cost. Recall < 1 BY DESIGN vs the exact all-pairs
    * anchor [[q30EmbedNearDup]]: a pair at the cosine-0.45 threshold
    * disagrees with a given hyperplane with p = θ/π ≈ 0.35, so
    * detection ≈ 1-(1-0.65⁴)⁴ ≈ 0.55 there, rising to ≈ 0.95 for true
    * near-dups (cosine ≥ 0.9); SimilaritySpec pins subset-of-anchor
    * and the measured recall floor. */
  def signLshNearDup(spark: SparkSession, dir: String,
      threshold: Double = 0.45): DataFrame = {
    val bk = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"),
        posexplode(array((0 until 4).map { t =>
          (0 until 4).map { i =>
            when(element_at(col("embedding"), t * 4 + i + 1) >= 0,
              lit(1 << i)).otherwise(lit(0))
          }.reduce(_ + _)
        }: _*)))
      .withColumnRenamed("pos", "tbl")
      .withColumnRenamed("col", "bucket")
    // norms projected per side BEFORE the join (one fold per bucket
    // row, not one per collision); same pure fold ⇒ bitwise-identical
    // cosine to the q30 anchor
    val a = bk.select(col("vec_id").as("vec_a"),
        col("embedding").as("emb_a"), col("tbl"), col("bucket"))
      .withColumn("norm_a", dot(col("emb_a"), col("emb_a")))
    val b = bk.select(col("vec_id").as("vec_b"),
        col("embedding").as("emb_b"), col("tbl"), col("bucket"))
      .withColumn("norm_b", dot(col("emb_b"), col("emb_b")))
    a.join(b, Seq("tbl", "bucket"))
      .filter(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        (dot(col("emb_a"), col("emb_b")) /
          sqrt(col("norm_a") * col("norm_b"))).as("cosine"))
      .distinct() // same pair can collide in several tables
      .filter(col("cosine") >= threshold)
  }

  /** Embedding-space dup clusters: connected components over the
    * banded sign-LSH near-dup pairs — cluster labeling for the
    * EMBEDDING modality exactly as q69 labels the text modality
    * (same [[Dedup.connectedComponents]] min-label loop, same
    * keep-the-minimum-id contract), so a curation pipeline can
    * adjudicate the two modalities' cluster structures side by
    * side. Pair generation stays banded (never the q30 anchor). */
  def q205EmbedClusters(spark: SparkSession, dir: String): DataFrame =
    Dedup.connectedComponents(
      signLshNearDup(spark, dir, threshold = 0.45)
        .select(col("vec_a"), col("vec_b")))
      .groupBy(col("label").as("cluster"))
      .agg(count(lit(1)).as("n_vecs"), max(col("id")).as("max_vec"))
      .orderBy(col("cluster"))

  /** The banded path's recall CONTRACT, published as a query — the
    * number a curation operator actually reports when choosing LSH
    * knobs: per cosine bucket, how many true near-dup pairs exist
    * (exact anchor) and how many the banded path catches. Both sides
    * are fully oracle-checkable: the anchor is q30's all-pairs cosine
    * and the banded side is the float-free sign-bucket join, so the
    * recall column itself is hash-verified — a bucketing regression
    * that quietly halves recall fails CORRECTNESS, not just a spec
    * floor. The anchor join is quadratic BY ROLE: this is the
    * measurement that certifies the banded path, run on a sample (or
    * a validation slice at 100 TB), never on the serving path —
    * banded pairs are spec-pinned to be a SUBSET of anchor pairs, so
    * a left join from the anchor covers both counts in one pass. */
  def q213BandedRecall(spark: SparkSession, dir: String): DataFrame = {
    val anchor = exactNearDupPairs(spark, dir)
    val banded = signLshNearDup(spark, dir, threshold = 0.45)
      .select(col("vec_a"), col("vec_b"), lit(1L).as("hit"))
    anchor.join(banded, Seq("vec_a", "vec_b"), "left")
      // 0.05-grain buckets from the 0.45 threshold up; the recall
      // gradient (weak at threshold, ~1 for true dups) is the signal
      .withColumn("cos_bucket", floor(col("cosine") * 20) / 20)
      .groupBy(col("cos_bucket"))
      .agg(count(lit(1)).as("n_anchor_pairs"),
        sum(coalesce(col("hit"), lit(0L))).as("n_banded_pairs"))
      .select(col("cos_bucket"), col("n_anchor_pairs"),
        col("n_banded_pairs"),
        round(col("n_banded_pairs").cast("double")
          / col("n_anchor_pairs"), 9).as("recall"))
      .orderBy(col("cos_bucket"))
  }

  /** Product-quantization ANN — the memory-side scale lever the IVF
    * (q53) and LSH (q29) variants don't cover: each 64-float vector
    * (256 B) is encoded as 4 subspace codes (4 B) against per-subspace
    * k-means codebooks, a 64× compression that lets a 100 TB corpus'
    * index live in RAM. Queries score candidates via ADC: a per-probe
    * distance table (subspace × centroid, driver-tiny) turns approx
    * distance into 4 lookups + adds per candidate; the top candidates
    * are re-ranked with exact cosine. Codebooks are engine-specific →
    * rows-only; recall floor vs exact q27 is asserted in spec. */
  def q98AnnPq(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val nSub = 4; val subDim = 16; val k = 16
    val e = Tables.embeddings(spark, dir)
    // one codebook per subspace, fitted on the vector slices
    val codebooks: Array[Array[Array[Float]]] = (0 until nSub).map { s =>
      val sub = e.select(array_to_vector(
        slice(col("embedding"), s * subDim + 1, subDim)).as("vec"))
      new KMeans().setK(k).setSeed(42 + s).setMaxIter(4)
        .setFeaturesCol("vec")
        .fit(sub).clusterCenters.map(_.toArray.map(_.toFloat))
    }.toArray
    val bc = spark.sparkContext.broadcast(codebooks)
    import spark.implicits._
    // encode: nearest centroid per subspace — genuine per-row
    // imperative math over a broadcast codebook, so a typed map
    val encoded = e.select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])]
      .map { case (id, emb) =>
        val cbs = bc.value
        val codes = Array.tabulate(nSub) { s =>
          var best = 0; var bestD = Double.MaxValue; var c = 0
          while (c < cbs(s).length) {
            var d = 0.0; var i = 0
            while (i < subDim) {
              val diff = cbs(s)(c)(i).toDouble - emb(s * subDim + i)
              d += diff * diff; i += 1
            }
            if (d < bestD) { bestD = d; best = c }
            c += 1
          }
          best
        }
        (id, codes.toSeq)
      }.toDF("vec_id", "codes")
    // ADC distance tables: probe × subspace × centroid, driver-tiny
    val dtRows = probes(spark, dir).collect().flatMap { r =>
      val qId = r.getLong(0)
      val qEmb = r.getSeq[Float](1).toArray
      for {
        s <- 0 until nSub
        (cent, c) <- codebooks(s).zipWithIndex
      } yield {
        var d = 0.0; var i = 0
        while (i < subDim) {
          val diff = cent(i).toDouble - qEmb(s * subDim + i)
          d += diff * diff; i += 1
        }
        (qId, s, c, d)
      }
    }
    val dt = broadcast(dtRows.toSeq.toDF("q_id", "s", "code", "d"))
    val approx = encoded
      .select(col("vec_id"), posexplode(col("codes")).as(Seq("s", "code")))
      .join(dt, Seq("s", "code"))
      .filter(col("vec_id") =!= col("q_id"))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(sum(col("d")).as("approx_d"))
    val wApprox = Window.partitionBy(col("q_id"))
      .orderBy(col("approx_d").asc, col("vec_id").asc)
    val candidates = approx
      .withColumn("crank", row_number().over(wApprox))
      .filter(col("crank") <= 20)
      .select(col("q_id"), col("vec_id"))
    // exact re-rank of the shortlist
    val wExact = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
    candidates
      .join(Tables.embeddings(spark, dir), "vec_id")
      .join(broadcast(probes(spark, dir)
        .withColumnRenamed("q_id", "p_id")),
        col("q_id") === col("p_id"))
      .select(col("q_id"), col("vec_id"),
        cosine(col("q_emb"), col("embedding")).as("cosine"))
      .withColumn("rank", row_number().over(wExact))
      .filter(col("rank") <= 3)
      .select(col("q_id"), col("rank"), col("vec_id"), col("cosine"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** Streaming similarity scoring: embeddings arrive as a stream and
    * are scored against a broadcast probe set inline — the online
    * twin of q27's batch scan (think: newly-ingested documents scored
    * against a fixed query/centroid set as they land). Stateless
    * narrow map per micro-batch: no watermark, no state store; the
    * memory-sink drain must equal the batch filter. */
  def q120StreamScoring(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamingWindows.withStreamPartitions(spark) {
      import org.apache.spark.sql.types._
      val schema = StructType(Seq(
        StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)),
        StructField("label", IntegerType)))
      val q = probes(spark, dir)
        .withColumn("q_norm", dot(col("q_emb"), col("q_emb")))
      val src = spark.readStream.schema(schema)
        .option("pathGlobFilter", "embeddings.parquet")
        .parquet(dir)
      val scoredStream = src
        .withColumn("c_norm", dot(col("embedding"), col("embedding")))
        .join(broadcast(q), col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"),
          (dot(col("q_emb"), col("embedding")) /
            sqrt(col("q_norm") * col("c_norm"))).as("cosine"))
        .filter(col("cosine") >= 0.3)
      val name = "graft_stream_scoring_" +
        java.util.UUID.randomUUID().toString.replace("-", "")
      val query = scoredStream.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      query.awaitTermination()
      val result = spark.table(name).orderBy("q_id", "vec_id")
      graft.streaming.StreamingWindows.materializeAndDrop(
        spark, name, result)
    }

  /** Per-vector feature extraction — the narrow, shuffle-free pass
    * every embedding pipeline runs before indexing: dimensionality,
    * L2 norm (via the native dot expression), max |component|, and the
    * first component of the L2-normalized vector. Everything stays in
    * one WholeStageCodegen stage over the scan; at 100 TB this is a
    * pure map with no exchange at all (the output sort exists only for
    * the oracle compare). */
  def q87VectorNorm(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val l2 = sqrt(dot(col("embedding"), col("embedding")))
    e.select(
        col("vec_id"),
        size(col("embedding")).as("dim"),
        l2.as("l2_norm"),
        array_max(transform(col("embedding"),
          x => abs(x.cast("double")))).as("max_abs"),
        (element_at(col("embedding"), 1).cast("double") / l2)
          .as("unit_first"))
      .orderBy(col("vec_id"))
  }

  /** Class-balance report over the labeled embeddings: per label,
    * vector counts and the L2-norm distribution — the skew check run
    * before training on a labeled corpus (a label whose vectors are
    * systematically longer/shorter signals a collection artifact).
    * Norms are rounded to 9 decimals and summed as exact decimals, so
    * the per-class mean is fold-order-independent (q145 discipline);
    * min/max are order-independent by nature. */
  def q159LabelStats(spark: SparkSession, dir: String): DataFrame = {
    val nrm = round(sqrt(dot(col("embedding"), col("embedding"))), 9)
      .cast("decimal(18,9)")
    Tables.embeddings(spark, dir)
      .select(col("label"), nrm.as("nrm"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        round(sum(col("nrm")).cast("double") / count(lit(1)), 9)
          .as("avg_norm"),
        min(col("nrm")).cast("double").as("min_norm"),
        max(col("nrm")).cast("double").as("max_norm"))
      .orderBy(col("label"))
  }

  /** Symmetric int8 quantization of the embedding column — the 4×
    * compression a vector store applies before indexing (the PQ
    * codes of q98 are the 64× cousin). Per vector: scale =
    * max|x|/127, q_i = floor(x_i/scale + 0.5) — explicit floor(+0.5)
    * instead of round() so both engines share one rounding rule.
    * Everything is narrow per-row HOF arithmetic (no shuffle, no UDF);
    * the checksum over quantized codes is an exact integer and the
    * reconstruction error bound is order-independent (max), so the
    * whole pass is hash-verified. */
  def q144EmbedQuantize(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("xs"))
      .select(col("vec_id"), col("xs"),
        expr("array_max(transform(xs, x -> abs(x))) / 127.0D")
          .as("scale"))
      .select(col("vec_id"), col("xs"), col("scale"),
        expr("transform(xs, x -> CAST(floor(x / scale + 0.5D) AS BIGINT))")
          .as("q"))
      .select(col("vec_id"),
        size(col("xs")).as("dim"),
        round(col("scale"), 9).as("scale"),
        expr("aggregate(q, 0L, (a, v) -> a + v)").as("q_sum"),
        round(expr(
          "array_max(transform(zip_with(xs, q, (x, v) -> " +
            "abs(x - CAST(v AS DOUBLE) * scale)), e -> e))"), 9)
          .as("max_abs_err"))
      .orderBy(col("vec_id"))

  /** Per-class centroid outliers: the 3 vectors farthest (lowest
    * cosine) from their label's centroid — the mislabeled-example
    * probe run over a labeled embedding corpus. Two shuffles total:
    * one posexplode aggregation to the 10×64 centroid grid (partial
    * aggregation carries one cell per partition), then a broadcast of
    * the 10-row centroid table back onto the vectors; the rank is a
    * per-label window. Determinism: each centroid mean is rounded to
    * 9 decimals BEFORE scoring (killing the ±1 ulp noise of
    * order-dependent double sums), after which every dot/norm is a
    * sequential HOF fold over identical inputs — bitwise equal across
    * engines, so even the rank-3 selection boundary is exact. */
  def q181EmbedCentroid(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val centroid = e
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy(col("label"), col("pos"))
      .agg(round(avg(col("x").cast("double")), 9).as("m"))
      .groupBy(col("label"))
      .agg(expr("transform(array_sort(collect_list(struct(pos, m))), " +
        "s -> s.m)").as("c"))
    val scored = e.join(broadcast(centroid), "label")
      .select(col("vec_id"), col("label"),
        expr("aggregate(zip_with(embedding, c, (x, y) -> " +
          "CAST(x AS DOUBLE) * y), 0.0D, (a, v) -> a + v)").as("dotp"),
        sqrt(expr("aggregate(transform(embedding, x -> " +
          "CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 0.0D, " +
          "(a, v) -> a + v)")).as("nv"),
        sqrt(expr("aggregate(transform(c, y -> y * y), 0.0D, " +
          "(a, v) -> a + v)")).as("nc"))
    val w = Window.partitionBy(col("label"))
      .orderBy((col("dotp") / (col("nv") * col("nc"))).asc,
        col("vec_id").asc)
    scored
      .select(col("label"), col("vec_id"),
        round(col("dotp") / (col("nv") * col("nc")), 9)
          .as("cos_centroid"),
        row_number().over(w).as("rn"))
      .filter(col("rn") <= 3)
      .orderBy(col("label"), col("rn"))
  }

  // ------------------------------------------------------------- k-means

  /** Squared-L2 / dot-product folds over double arrays — sequential
    * left folds from 0.0, bitwise-matching the oracle's list_reduce
    * (0.0 + x == x exactly for the non-negative squares, and the two
    * engines then add identical doubles in identical order).
    *
    * r16: evaluated by the native Catalyst expressions in
    * [[graft.functions.VectorExprs]] (whole-stage codegen / primitive
    * eval loop) instead of the interpreted `aggregate(zip_with(...))`
    * HOF chain — the guide-§4 "eliminate non-codegen Expressions in
    * the hot path" fix for the embedding tier, where the pair stream
    * pays one of these folds per candidate. Fold order, widening, and
    * null/ragged semantics are bit-identical to the HOF forms (the
    * interpreted HOF forms live on in SimilaritySpec as the equality
    * anchor; a UDF-based variant measured ~2× SLOWER than the HOFs
    * from Catalyst→Scala conversion — native expressions are the form
    * that wins). normD's radicand is exactly dotD(a, a): the same
    * Σ a[i]² in the same order as the `transform(a, x -> x*x)` fold. */
  private[graft] def sqDist(v: Column, c: Column): Column =
    VectorExprs.vecSqDistD(v, c)
  private[graft] def dotD(a: Column, b: Column): Column =
    VectorExprs.vecDotD(a, b)
  private[graft] def normD(a: Column): Column =
    sqrt(VectorExprs.vecDotD(a, a))

  /** One Lloyd assignment pass against a BROADCAST center set: the
    * centers ride into the executors as a k×64 array literal, so
    * assignment is a narrow codegen map over the corpus — zero
    * shuffle, zero join. Distances round to 9 decimals before the
    * argmin so the tie-break (lowest center id) is engine-portable;
    * `array_position` of the min returns the FIRST index, which is
    * exactly that tie-break. */
  private[graft] def lloydAssign(e: DataFrame, centers: Seq[Seq[Double]]): DataFrame =
    e.withColumn("dists", transform(typedlit(centers),
        c => round(sqDist(col("v"), c), 9)))
      .withColumn("dist", array_min(col("dists")))
      .withColumn("cid",
        (array_position(col("dists"), col("dist")) - 1).cast("int"))
      .drop("dists")

  /** Center recompute: one posexplode aggregation down to the k×64
    * mean grid (partial aggregation carries one cell per partition),
    * means rounded to 9 decimals (the q181 discipline — kills the
    * ±1 ulp noise of order-dependent double sums, so both engines
    * iterate from IDENTICAL centers), then a driver collect of the
    * k×dim grid cells, assembled into centers on the driver in
    * (cid, pos) order. One aggregate, one exchange: the grid is
    * metadata-sized by construction, so regrouping it per cid and
    * sorting it is driver work, not three more Spark stages.
    * The collect is the MLlib KMeans pattern: centers are model state,
    * and pulling them to the driver is what lets the next assignment
    * pass be a broadcast literal instead of a corpus-wide join. */
  private[graft] def recomputeCenters(assigned: DataFrame): Seq[Seq[Double]] = {
    val cells = recomputeCentersAt(assigned)
    // Empty clusters would renumber the POSITIONAL center array and
    // silently desync cid from the oracle's group key — fail loudly
    // instead. This dense path serves the fixed-k INDEX tier, whose
    // persisted artifacts require dense 0..k-1 cids by design; the
    // adaptive-k ANALYSIS tier routes through [[recomputeCentersAt]],
    // which handles an emptied cell the way the oracle does.
    require(cells.map(_._1) == cells.indices,
      s"empty k-means cluster: got cids ${cells.map(_._1)}")
    cells.map(_._2)
  }

  /** Center recompute for the ANALYSIS (adaptive-k) tier, returned in
    * cid order: the same mean grid as [[recomputeCenters]] (which
    * builds on this one), but centers keep their cid
    * LABEL instead of a positional slot — an emptied cell simply
    * drops out of the model with every surviving label preserved,
    * which is exactly what the oracle's recompute CTE does (`c1` in
    * OracleDefs.kmeansCtes is a GROUP BY over surviving cids). At
    * adaptive k an empty cell is a NORMAL Lloyd state (two identical
    * vectors among the k lowest-vec_id seeds suffice: every point
    * tie-breaks to the lower cid and the higher seed's cell starves),
    * so the analysis chain handles it instead of crashing — and stays
    * hash-equal to the oracle when it happens. */
  private[graft] def recomputeCentersAt(
      assigned: DataFrame): IndexedSeq[(Int, Seq[Double])] =
    assigned
      .select(col("cid"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy(col("cid"), col("pos"))
      .agg(round(avg(col("x")), 9).as("m"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))
      .groupBy(_._1).toIndexedSeq.sortBy(_._1)
      .map { case (cid, cs) => cid -> cs.sortBy(_._2).map(_._3).toIndexedSeq }

  /** [[lloydAssign]] against a LABELED center set (cid, center) that
    * may carry holes: per row the (9-rounded distance, cid) struct
    * minimum picks the nearest center with the lowest-cid tie-break —
    * bit-identical to the positional path on a dense model, and equal
    * to the oracle's `row_number() OVER (ORDER BY dist, cid)` on a
    * sparse one. Still a narrow codegen map, zero shuffle. */
  private[graft] def lloydAssignAt(e: DataFrame,
      centers: Seq[(Int, Seq[Double])]): DataFrame =
    e.withColumn("best", array_min(transform(typedlit(centers),
        c => struct(round(sqDist(col("v"), c.getField("_2")), 9).as("d"),
          c.getField("_1").as("cid")))))
      .withColumn("dist", col("best.d"))
      .withColumn("cid", col("best.cid"))
      .drop("best")

  private[graft] def embDouble(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))

  /** Trained model state over any (vec_id, v) frame: centers after one
    * Lloyd refinement of the k-lowest-vec_id seed (deterministic,
    * engine-portable) — metadata-sized, loadable into any consumer as
    * a literal. This is the FIXED-K INDEX tier's entry (the persisted
    * IVF/PQ builds in [[VectorIndex]]): a positional dense model whose
    * cids must be 0..k-1, enforced below. The adaptive-k analysis
    * family (q248/q249/q255/q259/q260) uses [[analysisCenters]]
    * instead, which tolerates emptied cells. */
  private[graft] def centersOf(e: DataFrame, k: Int): Seq[Seq[Double]] = {
    val seed = e.orderBy(col("vec_id")).limit(k).collect()
      .map(_.getSeq[Double](1).toIndexedSeq).toIndexedSeq
    val cs = recomputeCenters(lloydAssign(e, seed))
    // recomputeCenters rejects interior holes, but a TRAILING empty
    // cell (e.g. duplicate vectors among the k lowest-vec_id seeds)
    // would slip through as a dense-but-short center list and silently
    // desync cid labels from every oracle that trains with k cells —
    // fail loudly instead (cf. the same require on the persisted read
    // path in [[VectorIndex]]).
    require(cs.size == k,
      s"k-means trained ${cs.size} non-empty cells, expected $k")
    cs
  }

  /** Cluster count for the ANALYSIS k-means family (q248/q249/q255/
    * q259/q260): k grows with the corpus to hold cluster population
    * roughly constant (target 250 vectors/cell), floored at 8 so
    * every test-scale result is unchanged. This makes the q249
    * scaladoc's "at 100 TB k scales with the corpus" contract REAL:
    * SemDeDup's within-cluster pair work is k · (n/k)² = n · pop, so
    * constant population keeps the quadratic stage linear in n — the
    * r7 stress sweep measured 15× on the composed report with k
    * pinned at 8. The corpus count is one columnar scan (metadata-
    * cheap next to the Lloyd passes). The persisted-index tier
    * ([[VectorIndex]]) deliberately keeps a FIXED cell count: an
    * index's layout is a frozen design parameter re-chosen at
    * rebuild, not per query. */
  private[graft] def adaptiveK(e: DataFrame): Int =
    math.max(8, math.ceil(e.count() / 250.0).toInt)

  /** The analysis tier's trained model over any (vec_id, v) frame:
    * one Lloyd refinement of the k-lowest-vec_id seed, centers
    * LABELED by cid (holes allowed — an emptied cell drops out, see
    * [[recomputeCentersAt]]). The hole-tolerant counterpart of the
    * index tier's [[centersOf]]. */
  private[graft] def analysisCenters(e: DataFrame,
      k: Int): Seq[(Int, Seq[Double])] = {
    val seed = e.orderBy(col("vec_id")).limit(k).collect()
      .map(_.getSeq[Double](1).toIndexedSeq).toIndexedSeq
    recomputeCentersAt(lloydAssign(e, seed))
  }

  /** Two Lloyd rounds over the embedding corpus, adaptive k. Returns
    * the final per-vector assignment (vec_id, v, cid, dist). */
  private[graft] def kmeansAssigned(spark: SparkSession, dir: String): DataFrame = {
    val e = embDouble(spark, dir)
    lloydAssignAt(e, analysisCenters(e, adaptiveK(e)))
  }

  /** q248: distributed k-means (Lloyd's) — the clustering pass under
    * semantic dedup, mixture balancing, and diversity sampling at
    * corpus scale. Per iteration the corpus is touched exactly twice
    * (one narrow assignment map, one posexplode mean-grid aggregate)
    * and NOTHING corpus-sized ever shuffles: the only exchanges carry
    * the k×64 mean grid. At 100 TB the iteration count stays the knob
    * (here 2, pinned so the oracle can mirror it as two CTE chains);
    * the assignment map cost is k×dim multiply-adds per row —
    * embarrassingly parallel. SSE sums per-vector distances as exact
    * DECIMAL(28,9) (each already 9-rounded), so the report is
    * order-independent and hash-checkable. */
  def q248KmeansAssign(spark: SparkSession, dir: String): DataFrame =
    kmeansAssigned(spark, dir)
      .groupBy(col("cid"))
      .agg(count(lit(1)).as("n"),
        sum(col("dist").cast("decimal(28,9)")).cast("double").as("sse"))
      .orderBy(col("cid"))

  /** q249: SemDeDup — semantic near-dup pruning INSIDE k-means
    * clusters (Abbas et al. 2023's shape: cluster first, then pay the
    * quadratic pairwise cosine only within a cluster). The corpus
    * shuffles once, on cid, a bounded-population key, and the
    * quadratic term is (n/k)² per cluster, never n²; at 100 TB k
    * scales with the corpus to hold cluster population roughly
    * constant, which keeps per-cluster pair work flat — the whole
    * point of the algorithm. Drop rule is deterministic: b is dropped
    * iff SOME same-cluster a < b has cosine >= 0.35 (rounded to 9
    * before the compare), i.e. each cluster keeps its lowest-id
    * representative per semantic neighborhood.
    *
    * Each vector pre-normalizes to unit length ONCE (a per-row map)
    * so the quadratic stage pays a single dot product per pair
    * instead of dot + two norms — 3× less per-pair arithmetic, the
    * optimization that matters where the work actually lives. The
    * oracle mirrors the same normalize-then-dot order, so the floats
    * stay bitwise-aligned. */
  def q249SemDedup(spark: SparkSession, dir: String): DataFrame =
    // the final assignment has one consumer, the cluster aggregate, so
    // its Lloyd map runs inside that aggregate's map stage, unpinned
    semDedupFrom(kmeansAssigned(spark, dir))

  /** q249's report over a prepared assignment — split out so the
    * composed report (q259) can stage the Lloyd chain once and feed
    * every section from the same checkpointed pass.
    *
    * Plan shape: one `groupBy(cid)` aggregate, so one exchange on cid,
    * collects each cluster's (vec_id, unit vector) members, and the
    * native [[graft.functions.ClusterNearDupCount]] counts the dropped
    * ids in the same task. That is the pair join on cid, its distinct
    * and its per-cluster counts in one pass; the join materialized
    * about n_c² rows per cluster, each carrying two vectors. A cluster
    * is still processed in one task, as the join on cid did. */
  private def semDedupFrom(assigned: DataFrame): DataFrame =
    unitVectors(assigned)
      .groupBy(col("cid"))
      .agg(count(lit(1)).as("n"),
        VectorExprs.clusterNearDupCount(
          collect_list(struct(col("vec_id"), col("vn"))), 0.35)
          .as("n_dropped"))
      .select(col("cid"), col("n"), col("n_dropped"),
        (col("n") - col("n_dropped")).as("n_kept"))
      .orderBy(col("cid"))

  /** (cid, vec_id, vn): each assigned vector scaled to unit length. */
  private[graft] def unitVectors(assigned: DataFrame): DataFrame =
    assigned
      .withColumn("nv", normD(col("v")))
      .select(col("cid"), col("vec_id"),
        transform(col("v"), x => x / col("nv")).as("vn"))

  /** q254: 1-NN label coherence — the embedding-quality probe run
    * before trusting a vector space for semantic dedup or retrieval:
    * for a fixed deterministic probe PANEL, find each probe's nearest
    * OTHER vector by cosine and check whether the neighbor carries
    * the probe's label; report per-label probe count, hit count,
    * accuracy, and the mean neighbor cosine. A space where 1-NN
    * accuracy is high clusters by meaning; one where it is at chance
    * makes semantic dedup thresholds meaningless.
    *
    * Scale shape: the probe side is an ABSOLUTE-bounded panel (see
    * [[probeCands]]), so its broadcast is O(1) in the corpus and the
    * candidate stream is O(panel × n) — linear; the corpus side never
    * materializes pairs beyond the streamed scan. Vectors
    * pre-normalize once so each candidate costs one dot product, and
    * the per-probe argmax is a partial aggregation over
    * (cos, -cand_id) structs — panel-many rows per partition through
    * the shuffle, never the candidate stream. Cosines round to 9
    * before the argmax so the neighbor choice (and its tie-break:
    * lowest candidate id) is engine-portable. */
  /** The probe panel size: an ABSOLUTE budget, not a corpus fraction.
    * The r7 sweep measured why this matters: a `% 10` sample made the
    * probe broadcast grow with the corpus and the pair stream grow
    * quadratically (7.6–9.7× under 5× data); a fixed panel pins the
    * report's cost envelope at any scale. 128 probes cover all 10
    * labels on every test corpus; statistical width is a panel-size
    * knob, not a complexity class. */
  private val ProbePanel = 128

  /** The shared probe-candidate stream of q254/q257: unit-normalized
    * vectors, the fixed [[ProbePanel]]-vector panel (`vec_id <
    * ProbePanel` — a pushed-down scan predicate, and the SAME vectors
    * at every corpus size, so reports stay comparable across scales)
    * broadcast against the corpus, one 9-rounded dot per
    * (probe, candidate) pair, self excluded. When the panel must
    * instead cover a corpus FRACTION (recall studies), route the
    * probes through the persisted IVF index ([[VectorIndex]] q294)
    * rather than re-widening this broadcast — nprobe cells per probe
    * keeps the pair stream sub-linear per probe. */
  private def probeCands(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      .withColumn("nv", normD(col("v")))
      .select(col("vec_id"), col("label"),
        transform(col("v"), x => x / col("nv")).as("vn"))
    val probes = e.filter(col("vec_id") < ProbePanel)
      .select(col("vec_id").as("p_id"), col("label").as("p_label"),
        col("vn").as("pv"))
    e.join(broadcast(probes), col("vec_id") =!= col("p_id"))
      .select(col("p_id"), col("p_label"), col("vec_id").as("cand_id"),
        col("label").as("c_label"),
        round(dotD(col("vn"), col("pv")), 9).as("cos"))
  }

  def q254LabelKnn(spark: SparkSession, dir: String): DataFrame = {
    val best = probeCands(spark, dir)
      .select(col("p_id"), col("p_label"),
        struct(col("cos"), (-col("cand_id")).as("neg_id"),
          col("c_label").as("n_label")).as("cand"))
      .groupBy(col("p_id"), col("p_label"))
      .agg(max(col("cand")).as("best"))
    best
      .groupBy(col("p_label"))
      .agg(count(lit(1)).as("n_probes"),
        sum(when(col("best.n_label") === col("p_label"), 1L)
          .otherwise(0L)).as("n_correct"),
        round(sum(col("best.cos").cast("decimal(28,9)")).cast("double") /
          count(lit(1)).cast("double"), 9).as("mean_nn_cos"))
      .withColumn("accuracy",
        round(col("n_correct").cast("double") /
          col("n_probes").cast("double"), 9))
      .select(col("p_label").as("label"), col("n_probes"),
        col("n_correct"), col("accuracy"), col("mean_nn_cos"))
      .orderBy(col("label"))
  }

  /** q255: OOD / outlier report per k-means cluster — the "what does
    * this cluster's distance distribution look like, and how much
    * mass sits far outside it" pass that decides whether a cluster is
    * coherent (tight percentiles), noisy (fat tail), or junk (median
    * itself is huge); the outlier rule (dist > 2× cluster median) is
    * the robust-statistics cousin of mean+2σ that survives the exact
    * thing it is hunting. Reuses the q248 assignment; one exact
    * percentile aggregate per cluster (k×3 doubles), broadcast back
    * for the outlier count — two metadata exchanges total.
    *
    * At 100 TB the exact per-cluster percentile is the one piece to
    * swap: `percentile_approx`/GK (the q88/q129 tier) gives the same
    * report with bounded memory; the exact form stays here because it
    * is what the oracle can check bit-for-bit. */
  def q255OodReport(spark: SparkSession, dir: String): DataFrame =
    // staged once: the percentile aggregate and the outlier join-back
    // both read the assignment (see q249)
    oodFrom(kmeansAssigned(spark, dir).localCheckpoint())

  /** q255's report over a prepared assignment (see semDedupFrom). */
  private def oodFrom(assigned: DataFrame): DataFrame = {
    val a = assigned.select(col("cid"), col("dist"))
    val pct = a.groupBy(col("cid"))
      .agg(count(lit(1)).as("n"),
        round(expr("percentile(dist, 0.5)"), 9).as("p50"),
        round(expr("percentile(dist, 0.9)"), 9).as("p90"),
        round(expr("percentile(dist, 0.99)"), 9).as("p99"))
    a.join(broadcast(pct), "cid")
      .groupBy(col("cid"))
      .agg(max(col("n")).as("n"), max(col("p50")).as("p50"),
        max(col("p90")).as("p90"), max(col("p99")).as("p99"),
        sum(when(col("dist") > col("p50") * 2.0d, 1L).otherwise(0L))
          .as("n_outliers"))
      .select(col("cid"), col("n"), col("p50"), col("p90"), col("p99"),
        col("n_outliers"))
      .orderBy(col("cid"))
  }

  /** q257: hard-negative inventory — the mining report behind
    * contrastive embedding training: for each probe, count the
    * WRONG-label candidates whose cosine beats the probe's own
    * same-label mean. A strong space yields few (negatives sit below
    * the positive band); this corpus's chance-level space yields
    * roughly half the negatives, which is exactly what q254's
    * accuracy says it should. Per label the report gives probe count,
    * total hard negatives, and the per-probe mean — the numbers that
    * size a hard-negative sampling budget.
    *
    * Two passes over the probe-candidate stream (mean, then count
    * above it) with the stream STAGED ONCE via localCheckpoint — the
    * q209 staging discipline; both aggregates are probe-keyed partial
    * aggregations. Same-label means sum 9-rounded cosines as exact
    * decimals, so the μ threshold each count compares against is
    * bitwise-portable. */
  def q257HardNegatives(spark: SparkSession, dir: String): DataFrame = {
    val cand = probeCands(spark, dir).localCheckpoint()
    val dec = "decimal(28,9)"
    val mu = cand.groupBy(col("p_id"), col("p_label"))
      .agg(round(
        sum(when(col("c_label") === col("p_label"),
          col("cos").cast(dec)).otherwise(lit(0).cast(dec)))
          .cast("double") /
        sum(when(col("c_label") === col("p_label"), 1L).otherwise(0L))
          .cast("double"), 9).as("mu"))
    val hard = cand.join(broadcast(mu), Seq("p_id", "p_label"))
      .groupBy(col("p_id"), col("p_label"))
      .agg(sum(when(col("c_label") =!= col("p_label") &&
        col("cos") > col("mu"), 1L).otherwise(0L)).as("n_hard"))
    hard.groupBy(col("p_label"))
      .agg(count(lit(1)).as("n_probes"),
        sum(col("n_hard")).as("n_hard_total"),
        round(sum(col("n_hard")).cast("double") /
          count(lit(1)).cast("double"), 9).as("mean_hard_per_probe"))
      .select(col("p_label").as("label"), col("n_probes"),
        col("n_hard_total"), col("mean_hard_per_probe"))
      .orderBy(col("label"))
  }

  /** q259: composed embedding-tier report — cluster inventory (q248),
    * semantic-dedup yield (q249), and OOD tail (q255) as ONE
    * union-tagged artifact, the embedding counterpart of q240's
    * curation round report. The Lloyd chain runs ONCE
    * (localCheckpoint) and every section reads the staged assignment;
    * without staging, each section would re-run both Lloyd rounds and
    * their driver collects — three corpus re-clusterings for one
    * report. Schema: (section, seq, n_a, n_b, n_c, metric), ordered
    * by section then cluster id. */
  def q259EmbedReport(spark: SparkSession, dir: String): DataFrame = {
    val a = kmeansAssigned(spark, dir).localCheckpoint()
    val sizes = a.groupBy(col("cid"))
      .agg(count(lit(1)).as("n"),
        sum(col("dist").cast("decimal(28,9)")).cast("double").as("sse"))
      .select(lit("kmeans").as("section"), col("cid").cast("long").as("seq"),
        col("n").as("n_a"), lit(null).cast("long").as("n_b"),
        lit(null).cast("long").as("n_c"), round(col("sse"), 9).as("metric"))
    val sem = semDedupFrom(a).select(
      lit("semdedup").as("section"), col("cid").cast("long").as("seq"),
      col("n").as("n_a"), col("n_dropped").as("n_b"),
      col("n_kept").as("n_c"),
      round(col("n_dropped").cast("double") / col("n").cast("double"), 9)
        .as("metric"))
    val ood = oodFrom(a).select(
      lit("ood").as("section"), col("cid").cast("long").as("seq"),
      col("n").as("n_a"), col("n_outliers").as("n_b"),
      lit(null).cast("long").as("n_c"), col("p99").as("metric"))
    sizes.unionAll(sem).unionAll(ood)
      .orderBy(col("section"), col("seq"))
  }

  /** q260: streaming cluster router — the ONLINE consumer of the
    * k-means model: newly-arriving vectors are assigned to the
    * trained centers and OOD-flagged (dist > 2× the cluster's batch
    * median) as they land, the admission-routing step in front of a
    * sharded vector index or a per-cluster curation queue. The model
    * (k×64 centers + k thresholds) loads BEFORE the stream starts and
    * rides into every micro-batch as literals — assignment is a
    * stateless narrow map, so the stream needs no watermark and no
    * state store, exactly like q120; the only stream state is the
    * complete-mode k-row count aggregate.
    *
    * Oracled by stream-batch equivalence: the drained per-cluster
    * (n_assigned, n_flagged) must equal what the batch chain (q248 /
    * q255's outlier rule) computes over the same rows — the q217
    * discipline applied to the embedding tier. */
  def q260StreamClusterRouter(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamingWindows.withStreamPartitions(spark) {
      import org.apache.spark.sql.types._
      // train ONCE: k and centers feed both the threshold pass and the
      // stream's assignment map (the q249/q255 staged discipline — the
      // old finalCenters + kmeansAssigned pair re-ran the whole Lloyd
      // chain, an identical second training per invocation)
      val eb = embDouble(spark, dir)
      val centers = analysisCenters(eb, adaptiveK(eb))
      // thresholds keyed BY cid (a map literal, hole-safe under the
      // analysis model), not by array position
      val thresholds = lloydAssignAt(eb, centers)
        .groupBy(col("cid"))
        .agg(round(expr("percentile(dist, 0.5)"), 9).as("p50"))
        .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
      val thr = typedlit(thresholds)
      val schema = StructType(Seq(
        StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)),
        StructField("label", IntegerType)))
      val src = spark.readStream.schema(schema)
        .option("pathGlobFilter", "embeddings.parquet")
        .parquet(dir)
        .select(col("vec_id"),
          transform(col("embedding"), x => x.cast("double")).as("v"))
      val routed = lloydAssignAt(src, centers)
        .withColumn("flag",
          col("dist") > element_at(thr, col("cid")) * 2.0d)
        .groupBy(col("cid"))
        .agg(count(lit(1)).as("n_assigned"),
          count_if(col("flag")).as("n_flagged"))
      val name = "graft_stream_router_" +
        java.util.UUID.randomUUID().toString.replace("-", "")
      val query = routed.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      query.awaitTermination()
      val result = spark.table(name).orderBy(col("cid"))
      graft.streaming.StreamingWindows.materializeAndDrop(
        spark, name, result)
    }
}

/** Typed top-k aggregator: keeps the k best (cosine desc, vec_id asc)
  * pairs. reduce/merge are associative and bounded at k elements, so
  * Catalyst plans partial aggregation — each input partition sends at
  * most k rows per group through the shuffle. */
object TopKAgg {
  type Hit = (Double, Long) // (cosine, vec_id)

  private def better(x: Hit, y: Hit): Boolean =
    x._1 > y._1 || (x._1 == y._1 && x._2 < y._2)

  def topK(k: Int): Aggregator[(Long, Long, Double), List[Hit], Seq[Hit]] =
    new Aggregator[(Long, Long, Double), List[Hit], Seq[Hit]] {
      def zero: List[Hit] = Nil
      def reduce(buf: List[Hit], in: (Long, Long, Double)): List[Hit] =
        trim((in._3, in._2) :: buf)
      def merge(a: List[Hit], b: List[Hit]): List[Hit] = trim(a ++ b)
      def finish(buf: List[Hit]): Seq[Hit] = buf.sortWith(better)
      private def trim(l: List[Hit]): List[Hit] =
        l.sortWith(better).take(k)
      def bufferEncoder: org.apache.spark.sql.Encoder[List[Hit]] =
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
      def outputEncoder: org.apache.spark.sql.Encoder[Seq[Hit]] =
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
    }

}
