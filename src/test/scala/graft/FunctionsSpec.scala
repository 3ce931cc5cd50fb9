package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{GraftExtensions, GraftFunctions}

class FunctionsSpec extends AnyFunSuite {
  import TestSpark.{spark => tspark}

  test("a registered scalar UDF matches the native normText column " +
      "(surface parity; native stays the production path)") {
    import tspark.implicits._
    import org.apache.spark.sql.functions.{col, udf}
    val normUdf = udf((s: String) =>
      if (s == null) null
      else s.toLowerCase.replaceAll("\\s+", " ").trim)
    tspark.udf.register("norm_udf", normUdf)
    val df = Seq("  The  QUICK\tfox ", "a", "", null, " x\n y ")
      .toDF("t")
      .select(graft.functions.Cols.normText(col("t")).as("native"),
        org.apache.spark.sql.functions.expr("norm_udf(t)").as("viaUdf"))
    df.collect().foreach(r => assert(r.get(0) == r.get(1), r.toString))
  }
  import TestSpark._

  test("native expressions are callable by SQL name after register") {
    GraftFunctions.register(spark)
    val dot = spark.sql(
      """SELECT vec_dot(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)),
        |               array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT)))
        |""".stripMargin).head().getDouble(0)
    assert(dot == 11.0)
    val sh = spark.sql("SELECT simhash64(array('a', 'b', 'c'))")
      .head().getLong(0)
    // deterministic sketch: identical token arrays hash identically
    assert(sh == spark.sql("SELECT simhash64(array('a', 'b', 'c'))")
      .head().getLong(0))
    val sig = spark.sql(
      "SELECT minhash_md5_sigs(array('ab', 'cd'), 4)")
      .head().getSeq[String](0)
    assert(sig.length == 4 && sig.forall(_.matches("[0-9a-f]{32}")))
    // md5 portability anchor: seed 0, single shingle == md5('0|ab')
    val anchor = spark.sql("SELECT minhash_md5_sigs(array('ab'), 1)[0]," +
      " md5('0|ab')").head()
    assert(anchor.getString(0) == anchor.getString(1))
  }

  test("SQL surface uses vec_dot over the embeddings view") {
    Tables.registerViews(spark, sf)
    GraftFunctions.register(spark)
    val n = spark.sql(
      """SELECT vec_id, vec_dot(embedding, embedding) AS norm
        |FROM embeddings WHERE vec_id < 3""".stripMargin)
      .collect()
    assert(n.length == 3 && n.forall(_.getDouble(1) > 0))
  }

  test("vec_dot keeps HOF semantics on degenerate input (null, ragged)") {
    import org.apache.spark.sql.functions._
    GraftFunctions.register(spark)
    import spark.implicits._
    val df = Seq(
      (Seq[java.lang.Float](1.0f, 2.0f), Seq[java.lang.Float](3.0f, 4.0f)),
      (Seq[java.lang.Float](1.0f), Seq[java.lang.Float](3.0f, 4.0f)),
      (Seq[java.lang.Float](1.0f, null), Seq[java.lang.Float](3.0f, 4.0f)),
      (null, Seq[java.lang.Float](3.0f)))
      .toDF("a", "b")
      .select(col("a").cast("array<float>").as("a"),
        col("b").cast("array<float>").as("b"))
    val hof = "aggregate(zip_with(a, b, (x, y) -> CAST(x AS DOUBLE) * y)," +
      " CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    val rows = df.selectExpr("vec_dot(a, b) AS native", s"$hof AS hof")
      .collect()
    rows.foreach { r =>
      assert(r.isNullAt(0) == r.isNullAt(1))
      if (!r.isNullAt(0)) assert(r.getDouble(0) == r.getDouble(1))
    }
    // rows 1 (ragged), 2 (null element), 3 (null input) must all be NULL
    assert(rows.drop(1).forall(_.isNullAt(0)))
    assert(!rows.head.isNullAt(0) && rows.head.getDouble(0) == 11.0)
  }

  test("cluster_near_dup_count equals the SemDeDup pair join: distinct " +
      "b per cid with some a < b at round(dot, 9) >= 0.35") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    import graft.functions.VectorExprs
    import graft.operators.Similarity
    def frame(vecCol: String,
        rows: Seq[(Int, java.lang.Long, Seq[java.lang.Double])]) =
      spark.createDataFrame(rows.map { case (c, id, v) =>
        org.apache.spark.sql.Row(c, id, v) }.asJava,
        StructType(Seq(StructField("cid", IntegerType),
          StructField("vec_id", LongType),
          StructField(vecCol, ArrayType(DoubleType)))))
    // the pair plan SemDeDup ran before the grouped kernel
    def viaJoin(a: DataFrame): Map[Int, Long] = {
      val l = a.select(col("cid"), col("vec_id").as("a_id"), col("vn").as("va"))
      val r = a.select(col("cid"), col("vec_id").as("b_id"), col("vn").as("vb"))
      l.join(r, Seq("cid"))
        .filter(col("a_id") < col("b_id"))
        .filter(round(VectorExprs.vecDotD(col("va"), col("vb")), 9) >= 0.35)
        .select(col("cid"), col("b_id")).distinct()
        .groupBy(col("cid")).agg(count(lit(1)))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    }
    def viaKernel(a: DataFrame): Map[Int, Long] =
      a.groupBy(col("cid"))
        .agg(VectorExprs.clusterNearDupCount(
          collect_list(struct(col("vec_id"), col("vn"))), 0.35))
        .collect().map(r => r.getInt(0) -> r.getLong(1))
        .filter(_._2 > 0).toMap
    def d(xs: Double*): Seq[java.lang.Double] = xs.map(Double.box)
    def row(c: Int, id: java.lang.Long, v: Seq[java.lang.Double]) =
      (c, id, v)

    // random 6-d vectors over five clusters (dense enough that some
    // pairs pass 0.35 and some do not), a singleton cluster, a vec_id
    // repeated inside a cluster, and a NaN vector whose normalized
    // cosine is NaN (NaN sorts above every double, so it counts)
    val rnd = new scala.util.Random(7)
    val random = (0 until 150).map { i =>
      row(i % 5, i.toLong, Seq.fill(6)(Double.box(rnd.nextGaussian())))
    } ++ Seq(
      row(5, 500L, d(1, 2, 3, 4, 5, 6)),
      row(1, 1L, d(1, 0, 0, 0, 0, 0)),
      row(2, 1000L, d(1, Double.NaN, 0, 0, 0, 0)))
    val normalized = Similarity.unitVectors(frame("v", random))
    // hand-made unit-side members, one case per cluster: the dot of
    // (x) and (1.0) is exactly x
    val edge = frame("vn", Seq(
      row(100, 1L, d(0.3499999995)), row(100, 2L, d(1.0)), // 0.35
      row(101, 1L, d(0.3499999994)), row(101, 2L, d(1.0)), // 0.349999999
      row(102, 1L, d(0.3500000004)), row(102, 2L, d(1.0)), // 0.35
      row(103, 1L, d(0.35)), row(103, 2L, d(1.0)),
      row(104, 1L, d(1.0)), row(104, 2L, d(1.0, 0.0)), // ragged: NULL
      row(105, 1L, Seq[java.lang.Double](null)), row(105, 2L, d(1.0)),
      row(106, 1L, null), row(106, 2L, d(1.0)),        // null vector
      row(107, null, d(1.0)), row(107, 2L, d(1.0)),    // null id
      row(108, 1L, d(Double.PositiveInfinity)), row(108, 2L, d(1.0)),
      row(109, 1L, d(Double.NegativeInfinity)), row(109, 2L, d(1.0)),
      row(110, 5L, d(1.0)), row(110, 5L, d(1.0)),  // same id: no pair
      row(111, 3L, d(1.0)), row(111, 7L, d(1.0)),
      row(111, 7L, d(1.0))))                       // id 7 counts once
    val all = normalized.unionByName(edge)
    val expected = viaJoin(all)
    assert(viaKernel(all) == expected)
    assert(expected.filter(_._1 >= 100) ==
      Map(100 -> 1L, 102 -> 1L, 103 -> 1L, 108 -> 1L, 111 -> 1L))
    assert(expected.get(5).isEmpty) // the singleton drops nothing
    assert(expected.keySet.intersect((0 to 4).toSet).nonEmpty)

    // a zero vector cannot be normalized: both plans fail the same way
    // (ANSI division by zero), neither returns a count
    val zero = Similarity.unitVectors(frame("v", Seq(
      row(0, 1L, d(1, 1)), row(0, 2L, d(0, 0)))))
    Seq[DataFrame => Any](viaJoin, viaKernel).foreach { f =>
      val e = intercept[Exception](f(zero))
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(_.getMessage.contains("DIVIDE_BY_ZERO")), e.toString)
    }
  }

  test("extension class wires the same builders for config-time use") {
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions().apply(ext) // must not throw; builders shared
    assert(GraftFunctions.all.map(_._1).toSet ==
      Set("vec_dot", "simhash64", "minhash_md5_sigs", "min_shingle_md5",
        "jaccard_sim"))
  }

  test("jaccard_sim equals the array_intersect/array_union composite " +
      "on duplicates, disjoint sets, empties, and null elements") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val df = Seq(
      (Seq("a", "b", "c"), Seq("b", "c", "d")),        // 2/4
      (Seq("a", "a", "b"), Seq("b", "b", "a")),        // dup elements: 2/2
      (Seq("a"), Seq("x")),                            // disjoint: 0/2
      (Seq("a", "b"), Seq[String]()),                  // empty side: 0/2
      (Seq[String]("a", null), Seq("a", "b", null)),   // null element
      (Seq[String](null), Seq[String](null))           // null-only: 1/1
    ).toDF("a", "b")
    val rows = df.selectExpr("jaccard_sim(a, b) AS native",
      "CAST(size(array_intersect(a, b)) AS DOUBLE) " +
        "/ CAST(size(array_union(a, b)) AS DOUBLE) AS hof")
      .collect()
    rows.foreach { r =>
      assert(r.getDouble(0) == r.getDouble(1), r.toString)
    }
    assert(rows(0).getDouble(0) == 0.5)
    assert(rows(4).getDouble(0) == 2.0 / 3.0) // {a, null} ∩/∪ {a, b, null}
    assert(rows(5).getDouble(0) == 1.0)
  }

  test("simhash_md5 equals the nibble-arithmetic HOF reference on " +
      "real corpus token lists (the q297 oracle's exact formula)") {
    import org.apache.spark.sql.functions._
    // reference: bit j of the sketch = sign of the sum over tokens of
    // ±1 by in-nibble bit j%4 of md5-hex char 16 − j/4 — the identical
    // arithmetic the DuckDB oracle runs; the expression must match it
    // bit for bit on every doc of the test corpus
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"),
        split(graft.functions.Cols.normText(col("text")), " ").as("w"))
    val native = docs.select(col("doc_id"),
      graft.functions.TextExprs.simhashMd5(col("w")).as("sk"))
    val refSk = docs
      .select(col("doc_id"), explode(col("w")).as("t"))
      .crossJoin(spark.range(0, 64).select(col("id").cast("int").as("j")))
      .withColumn("nib", expr(
        "CAST(conv(substring(md5(t), 16 - (j div 4), 1), 16, 10) AS INT)"))
      .withColumn("sgn",
        when(expr("(shiftright(nib, j % 4) & 1) = 1"), lit(1))
          .otherwise(lit(-1)))
      .groupBy(col("doc_id"), col("j"))
      .agg(sum(col("sgn")).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(when(col("c") > 0, expr("shiftleft(1L, j)"))
        .otherwise(lit(0L))).as("sk"))
    val nat = native.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = refSk.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(nat.keySet == want.keySet)
    nat.foreach { case (id, sk) =>
      assert(sk == want(id), s"doc $id: native $sk != reference ${want(id)}")
    }
  }

  test("approx percentile tracks the exact percentile") {
    import org.apache.spark.sql.functions._
    val both = Tables.orders(spark, sf)
      .agg(expr("percentile(o_totalprice, 0.5)").as("exact"),
        expr("approx_percentile(o_totalprice, 0.5, 1000)").as("approx"))
      .head()
    val (exact, approx) = (both.getDouble(0), both.getDouble(1))
    assert(math.abs(exact - approx) / exact < 0.05)
  }
}
