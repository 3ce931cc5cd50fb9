package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{aggregate, lit, sqrt, transform, zip_with}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Similarity, TopKAgg}

class SimilaritySpec extends AnyFunSuite {
  import TestSpark._

  // The interpreted folds the native vector kernels replaced, kept here
  // as their parity anchor: Similarity.sqDist / dotD / normD must equal
  // these bit for bit.
  private def sqDistHof(v: Column, c: Column): Column =
    aggregate(zip_with(v, c, (x, y) => (x - y) * (x - y)),
      lit(0.0d), (a, x) => a + x)
  private def dotDHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0d), (x, y) => x + y)
  private def normDHof(a: Column): Column =
    sqrt(aggregate(transform(a, x => x * x), lit(0.0d), (x, y) => x + y))

  test("native vec_dot_d / vec_sqdist_d / normD are bit-identical to " +
      "the interpreted HOF folds, including degenerate inputs") {
    import org.apache.spark.sql.functions.col
    val rnd = new scala.util.Random(42)
    def vec(n: Int): Seq[java.lang.Double] =
      Seq.fill(n)(java.lang.Double.valueOf(
        (rnd.nextDouble() - 0.5) * math.pow(10, rnd.nextInt(7) - 3)))
    val cases: Seq[(Seq[java.lang.Double], Seq[java.lang.Double])] =
      (1 to 50).map(_ => (vec(64), vec(64))) ++ Seq(
        (Seq.empty, Seq.empty),                      // empty: fold seed 0.0
        (vec(5), vec(7)),                            // ragged -> NULL
        (vec(3).updated(1, null: java.lang.Double), vec(3)), // null elem
        (Seq[java.lang.Double](0.0, -0.0, 1.0),
          Seq[java.lang.Double](-0.0, 0.0, -0.0)),   // signed zeros
        (vec(2), Seq[java.lang.Double](null, null)))
    import scala.jdk.CollectionConverters._
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("a",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType, containsNull = true)),
      org.apache.spark.sql.types.StructField("b",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType, containsNull = true))))
    val df = spark.createDataFrame(
      cases.map { case (a, b) =>
        org.apache.spark.sql.Row(a, b) }.asJava, schema)
    val out = df.select(
      Similarity.dotD(col("a"), col("b")).as("dot_n"),
      dotDHof(col("a"), col("b")).as("dot_h"),
      Similarity.sqDist(col("a"), col("b")).as("sq_n"),
      sqDistHof(col("a"), col("b")).as("sq_h"),
      Similarity.normD(col("a")).as("nm_n"),
      normDHof(col("a")).as("nm_h")).collect()
    out.foreach { r =>
      def bits(i: Int): Option[Long] =
        if (r.isNullAt(i)) None
        else Some(java.lang.Double.doubleToRawLongBits(r.getDouble(i)))
      assert(bits(0) == bits(1), s"dot mismatch: $r")
      assert(bits(2) == bits(3), s"sqdist mismatch: $r")
      assert(bits(4) == bits(5), s"norm mismatch: $r")
    }
  }

  test("window top-k and Aggregator top-k agree exactly") {
    val viaWindow = Similarity.q27CosineTopK(spark, sf).collect().toSeq
    val viaUdaf = Similarity.q28TopKUdaf(spark, sf).collect().toSeq
    assert(viaWindow.map(_.toSeq) == viaUdaf.map(_.toSeq))
  }

  test("ANN results are a subset of brute-force scores with same cosine") {
    val exact = Similarity.q27CosineTopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    val ann = Similarity.q29AnnLsh(spark, sf).collect()
    assert(ann.nonEmpty)
    // every ANN hit of rank 1 that IS in the exact top-10 must carry the
    // bitwise-identical cosine (same fold, same arithmetic)
    val overlapping = ann.filter(r =>
      exact.contains((r.getLong(0), r.getLong(2))))
    assert(overlapping.nonEmpty)
    overlapping.foreach { r =>
      assert(exact((r.getLong(0), r.getLong(2))) == r.getDouble(3))
    }
  }

  test("ANN emits at most 3 ranked rows per probe, descending cosine") {
    val byProbe = Similarity.q29AnnLsh(spark, sf).collect()
      .groupBy(_.getLong(0))
    byProbe.values.foreach { rows =>
      assert(rows.length <= 3)
      val cosines = rows.sortBy(_.getInt(1)).map(_.getDouble(3)).toSeq
      assert(cosines == cosines.sorted.reverse)
    }
  }

  test("ANN recall against exact top-3 clears a measured floor") {
    val exact3 = Similarity.q27CosineTopK(spark, sf).collect()
      .filter(_.getInt(1) <= 3)
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val ann = Similarity.q29AnnLsh(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (ann & exact3).size.toDouble / exact3.size
    // deterministic on fixed data + seeded planes; measured 0.4 at
    // sf0.001 on random vectors (no cluster structure to exploit) —
    // the floor guards against silent bucketing regressions
    assert(recall >= 0.2, s"recall@3 = $recall")
  }

  test("IVF ANN emits ranked per-probe results with exact cosines") {
    val exact = Similarity.q27CosineTopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    val ivf = Similarity.q53AnnIvf(spark, sf).collect()
    assert(ivf.nonEmpty)
    ivf.groupBy(_.getLong(0)).values.foreach(rs => assert(rs.length <= 3))
    // hits that appear in the exact top-10 carry identical cosines
    ivf.filter(r => exact.contains((r.getLong(0), r.getLong(2))))
      .foreach(r => assert(exact((r.getLong(0), r.getLong(2)))
        == r.getDouble(3)))
  }

  test("PQ ANN re-ranked hits carry exact cosines and clear a " +
      "recall floor") {
    val exact3 = Similarity.q27CosineTopK(spark, sf).collect()
      .filter(_.getInt(1) <= 3)
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val pq = Similarity.q98AnnPq(spark, sf).collect()
    pq.groupBy(_.getLong(0)).values.foreach(rs => assert(rs.length <= 3))
    val hits = pq.map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (hits & exact3).size.toDouble / exact3.size
    // 4-byte codes over unclustered random vectors, 20-candidate
    // re-rank: measured ~0.5 at sf0.001; floor guards regressions
    assert(recall >= 0.2, s"PQ recall@3 = $recall")
    val exactCos = Similarity.q27CosineTopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    pq.filter(r => exactCos.contains((r.getLong(0), r.getLong(2))))
      .foreach(r => assert(exactCos((r.getLong(0), r.getLong(2)))
        == r.getDouble(3)))
  }

  test("banded sign-LSH near-dup is a subset of the exact anchor " +
      "with bitwise-identical cosines and a measured recall floor") {
    val anchor = Similarity.q30EmbedNearDup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val banded = Similarity.signLshNearDup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(banded.nonEmpty)
    banded.foreach { case (k, cos) =>
      assert(anchor.contains(k), s"pair $k not in exact anchor")
      assert(anchor(k) == cos, s"cosine drift for $k")
    }
    // deterministic on fixed data; the floor is pinned just under the
    // measured value (0.571 at sf0.001, 0.5 at sf0.01) so a bucketing
    // regression that halves recall FAILS — 0.2 would have let one
    // through (recall < 1 by design — see signLshNearDup scaladoc;
    // q213 publishes the per-bucket gradient as an oracled query)
    val recall = banded.size.toDouble / anchor.size
    assert(recall >= 0.5, s"banded recall = $recall of ${anchor.size}")
  }

  test("q122 candidate pool plans no all-pairs join of any kind") {
    val plan = operators.Dedup.q122DedupSignals(spark, sf)
      .queryExecution.executedPlan.toString
    // stricter than the catalog-wide CartesianProduct lint: the
    // production-shaped pool must not even broadcast-nested-loop —
    // every pair generation goes through a bucket/band equi-join
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
  }

  test("TopKAgg keeps k best with deterministic tie-break") {
    val agg = TopKAgg.topK(3)
    val ins = Seq((1L, 10L, 0.5), (1L, 11L, 0.9), (1L, 12L, 0.9),
      (1L, 13L, 0.1), (1L, 14L, 0.7))
    val buf = ins.foldLeft(agg.zero)(agg.reduce)
    assert(agg.finish(buf) == Seq((0.9, 11L), (0.9, 12L), (0.7, 14L)))
    // merge in any split order gives the same result
    val (l, r) = ins.splitAt(2)
    val merged = agg.merge(
      l.foldLeft(agg.zero)(agg.reduce), r.foldLeft(agg.zero)(agg.reduce))
    assert(agg.finish(merged) == agg.finish(buf))
  }

  test("k-means: Lloyd's is monotone and the report is consistent") {
    val n = Similarity.q248KmeansAssign(spark, sf)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    // all 8 clusters non-empty (the recomputeCenters contract) and the
    // report covers the whole corpus exactly once
    assert(n.map(_._1).toSeq == (0 until 8))
    assert(n.map(_._2).sum == graft.Tables.embeddings(spark, sf).count())
    assert(n.forall(_._3 > 0.0))
    // Lloyd monotonicity: total SSE after the second assignment is <=
    // SSE right after the first (reassignment can only tighten)
    val e = graft.Tables.embeddings(spark, sf).selectExpr("vec_id",
      "transform(embedding, x -> CAST(x AS DOUBLE)) AS v")
    val seed = e.orderBy(org.apache.spark.sql.functions.col("vec_id"))
      .limit(8).collect().map(_.getSeq[Double](1).toIndexedSeq).toIndexedSeq
    val sse1 = Similarity.lloydAssign(e, seed)
      .agg(org.apache.spark.sql.functions.sum("dist")).collect()(0)
      .getDouble(0)
    assert(n.map(_._3).sum <= sse1 + 1e-6)
  }

  test("analysis k-means tolerates an emptied cell: the cid drops out " +
      "with every surviving label preserved (the oracle's semantics), " +
      "and the dense path is unchanged on the real corpus") {
    import spark.implicits._
    // duplicate vectors among the k lowest vec_ids: every point ties
    // to the LOWER seed cid, so seed cell 1 starves in round 1 — the
    // normal Lloyd state that gets more likely as adaptive k grows
    val e = Seq(
      0L -> Seq(0.0, 0.0), 1L -> Seq(0.0, 0.0),
      2L -> Seq(10.0, 0.0), 3L -> Seq(0.0, 10.0),
      4L -> Seq(9.0, 1.0), 5L -> Seq(1.0, 9.0)
    ).toDF("vec_id", "v")
    val centers = Similarity.analysisCenters(e, 4)
    assert(centers.map(_._1) == Seq(0, 2, 3),
      s"expected a hole at cid 1, got ${centers.map(_._1)}")
    val assigned = Similarity.lloydAssignAt(e, centers)
      .select(org.apache.spark.sql.functions.col("vec_id"),
        org.apache.spark.sql.functions.col("cid"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // labels survive the hole un-renumbered: 2/4 stay with center 2,
    // 3/5 with center 3, nothing lands in the dropped cell
    assert(assigned.values.toSet == Set(0, 2, 3))
    assert(assigned(2L) == 2 && assigned(4L) == 2)
    assert(assigned(3L) == 3 && assigned(5L) == 3)
    assert(assigned(0L) == 0 && assigned(1L) == 0)
    // on the real corpus no cell empties, so the hole-tolerant model
    // equals the dense index-tier training exactly — every committed
    // hash is unchanged by the analysis tier's new representation
    val eb = Similarity.embDouble(spark, sf)
    val dense = Similarity.centersOf(eb, 8).zipWithIndex
      .map { case (c, i) => i -> c }
    assert(Similarity.analysisCenters(eb, 8).map {
      case (i, c) => i -> c.toIndexedSeq } == dense)
  }

  test("SemDeDup drops are within-cluster and keep lowest-id reps") {
    val rep = Similarity.q249SemDedup(spark, sf).collect()
    assert(rep.length == 8)
    rep.foreach { r =>
      assert(r.getLong(1) == r.getLong(2) + r.getLong(3)) // n = drop+keep
      assert(r.getLong(3) >= 1) // a cluster always keeps its lowest id
    }
    // the pair work stays keyed on cid: one cid exchange gathers each
    // cluster and the native kernel compares pairs inside it, so no
    // cartesian / nested-loop pair generation ever appears even though
    // the per-cluster work is quadratic
    val plan = Similarity.q249SemDedup(spark, sf).queryExecution
      .executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
  }

  test("1-NN label coherence covers exactly the probe sample and the " +
      "neighbor choice matches a brute-force recomputation") {
    val rows = Similarity.q254LabelKnn(spark, sf).collect()
    // the probe panel is the ABSOLUTE 128-vector budget (r8), not a
    // corpus fraction — its broadcast must not grow with the corpus
    val nProbes = graft.Tables.embeddings(spark, sf)
      .filter(org.apache.spark.sql.functions.col("vec_id") < 128)
      .count()
    assert(rows.map(_.getAs[Long]("n_probes")).sum == nProbes)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_correct") <= r.getAs[Long]("n_probes"))
      val acc = r.getAs[Double]("accuracy")
      assert(acc >= 0.0 && acc <= 1.0)
      // cosine of a nearest neighbor in a populated space is positive
      // on this corpus and bounded by 1
      val c = r.getAs[Double]("mean_nn_cos")
      assert(c > 0.0 && c <= 1.0, s"mean_nn_cos=$c")
    }
  }

  test("the probe panel bound reaches the parquet scan: q254's plan " +
      "pushes vec_id < 128 and broadcasts only the panel side") {
    // the r8 contract in code, pinned against regression: the probe
    // side is an ABSOLUTE budget whose filter is a pushed-down scan
    // predicate, so the broadcast can never re-become a corpus
    // fraction without this spec failing
    val plan = Similarity.q254LabelKnn(spark, sf).queryExecution
      .executedPlan.toString
    assert(plan.contains("LessThan(vec_id,128)"),
      "panel bound not pushed to the scan:\n" + plan.take(3000))
    assert(plan.contains("BroadcastExchange"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
  }

  test("OOD report: percentiles are ordered and the outlier rule is " +
      "self-consistent") {
    val rows = Similarity.q255OodReport(spark, sf).collect()
    assert(rows.map(_.getInt(0)).toSeq == (0 until 8))
    assert(rows.map(_.getAs[Long]("n")).sum ==
      graft.Tables.embeddings(spark, sf).count())
    rows.foreach { r =>
      val (p50, p90, p99) = (r.getAs[Double]("p50"),
        r.getAs[Double]("p90"), r.getAs[Double]("p99"))
      assert(p50 > 0 && p50 <= p90 && p90 <= p99)
      // at most half the cluster can sit beyond 2x its own median
      assert(r.getAs[Long]("n_outliers") <= r.getAs[Long]("n") / 2)
    }
  }

  test("hard-negative inventory is bounded by the wrong-label " +
      "candidate population and covers the q254 probe sample") {
    val rows = Similarity.q257HardNegatives(spark, sf).collect()
    val knn = Similarity.q254LabelKnn(spark, sf).collect()
      .map(r => r.getAs[Int]("label") -> r.getAs[Long]("n_probes")).toMap
    assert(rows.map(r =>
      r.getAs[Int]("label") -> r.getAs[Long]("n_probes")).toMap == knn)
    val nVecs = graft.Tables.embeddings(spark, sf).count()
    rows.foreach { r =>
      // a probe's hard negatives are a subset of its wrong-label
      // candidates, which number < n_vectors - 1
      assert(r.getAs[Double]("mean_hard_per_probe") < (nVecs - 1).toDouble)
      assert(r.getAs[Long]("n_hard_total") >= 0)
    }
  }

  test("composed embed report sections equal the standalone queries") {
    val rep = Similarity.q259EmbedReport(spark, sf).collect()
    val sem = rep.filter(_.getString(0) == "semdedup")
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val standalone = Similarity.q249SemDedup(spark, sf).collect()
      .map(r => (r.getInt(0).toLong, r.getLong(1), r.getLong(2),
        r.getLong(3)))
    assert(sem.toSeq == standalone.toSeq)
    val km = rep.filter(_.getString(0) == "kmeans")
      .map(r => (r.getLong(1), r.getLong(2)))
    val q248 = Similarity.q248KmeansAssign(spark, sf).collect()
      .map(r => (r.getInt(0).toLong, r.getLong(1)))
    assert(km.toSeq == q248.toSeq)
    // staging discipline: the composed report's plan references the
    // checkpointed assignment, not three separate Lloyd chains
    assert(rep.length == 24)
  }

  test("streaming cluster router equals the batch chain exactly") {
    val streamed = Similarity.q260StreamClusterRouter(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    val batchN = Similarity.q248KmeansAssign(spark, sf).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val batchOut = Similarity.q255OodReport(spark, sf).collect()
      .map(r => r.getInt(0) -> r.getAs[Long]("n_outliers")).toMap
    assert(streamed.length == 8)
    streamed.foreach { case (cid, n, flagged) =>
      assert(n == batchN(cid), s"cid=$cid assigned")
      assert(flagged == batchOut(cid), s"cid=$cid flagged")
    }
  }

  test("int8 quantization error never exceeds half a step") {
    operators.Similarity.q144EmbedQuantize(TestSpark.spark, TestSpark.sf)
      .collect().foreach { r =>
        val scale = r.getDouble(2)
        val maxErr = r.getDouble(4)
        // round-to-nearest: |x - q*scale| <= scale/2 (+ rounding slack
        // from the 9-decimal output rounding)
        assert(maxErr <= scale / 2 + 1e-9, s"vec ${r.getLong(0)}")
      }
  }

  test("dimension ablation: recall grows with kept dims and stays a " +
      "valid fraction") {
    val rows = operators.Similarity
      .q274DimAblation(TestSpark.spark, TestSpark.sf).collect()
      .map(r => (r.getAs[Int]("dim"), r.getAs[Long]("n_queries"),
        r.getAs[Double]("mean_recall"), r.getAs[Double]("min_recall")))
      .sortBy(_._1)
    assert(rows.map(_._1).toSeq == Seq(16, 32))
    rows.foreach { case (_, nq, mean, mn) =>
      assert(nq == 20L)
      assert(mean >= 0.0 && mean <= 1.0)
      assert(mn >= 0.0 && mn <= mean)
    }
    // more dimensions can only sharpen the exact ranking toward the
    // full-dim anchor on this geometry
    assert(rows(1)._3 >= rows(0)._3)
  }

  test("nDCG ablation is a valid graded metric bounded by recall " +
      "behavior") {
    val rows = operators.Similarity
      .q281NdcgAblation(TestSpark.spark, TestSpark.sf).collect()
      .map(r => (r.getAs[Int]("dim"), r.getAs[Double]("mean_ndcg"),
        r.getAs[Double]("min_ndcg")))
      .sortBy(_._1)
    assert(rows.map(_._1).toSeq == Seq(16, 32))
    rows.foreach { case (_, mean, mn) =>
      assert(mean >= 0.0 && mean <= 1.0)
      assert(mn >= 0.0 && mn <= mean)
    }
    assert(rows(1)._2 >= rows(0)._2)
  }

  test("reciprocal rank fusion: rrf recomputes from the arm ranks and " +
      "dual-arm hits dominate") {
    val rows = operators.Similarity
      .q280RankFusion(TestSpark.spark, TestSpark.sf).collect()
    assert(rows.nonEmpty && rows.length <= 10)
    assert(rows.map(_.getAs[Int]("fused_rank")).toSeq ==
      (1 to rows.length))
    var prev = Double.MaxValue
    rows.foreach { r =>
      def rankTerm(c: String): Double =
        if (r.isNullAt(r.fieldIndex(c))) 0.0
        else {
          val k = r.getAs[Int](c)
          assert(k >= 1 && k <= 20)
          BigDecimal(1.0 / (60.0 + k))
            .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
        }
      val expect = rankTerm("rank_lex") + rankTerm("rank_sem")
      assert(math.abs(r.getAs[Double]("rrf") - expect) < 1e-8)
      assert(r.getAs[Double]("rrf") <= prev + 1e-12)
      prev = r.getAs[Double]("rrf")
    }
    // a doc in BOTH top-20s scores at least 2/80, beating any
    // single-arm doc (max 1/61) — RRF's defining property
    val dual = rows.filter(r => !r.isNullAt(r.fieldIndex("rank_lex")) &&
      !r.isNullAt(r.fieldIndex("rank_sem")))
    val single = rows.filter(r => r.isNullAt(r.fieldIndex("rank_lex")) ||
      r.isNullAt(r.fieldIndex("rank_sem")))
    if (dual.nonEmpty && single.nonEmpty)
      assert(dual.map(_.getAs[Double]("rrf")).min >
        single.map(_.getAs[Double]("rrf")).max)
  }
}
