package graft

/** Driver-side measurement tooling (never part of the library): the
  * r14 scan-throughput probe — the DSv2 connector's vectorized read
  * path vs Spark's native parquet scan over the SAME segment files,
  * plus the connector's pre-r14 row-based path (columnar disabled)
  * as the before/after baseline.
  *
  * Usage: `Test/runMain graft.ScanProbe [sfDir]` (default the
  * ScaleUp sf0.5 directory). Emits one JSON line per probe with
  * median-of-7 seconds.
  *
  * Probe design notes:
  *  - every aggregate includes a SUM so the connector's metadata
  *    aggregate pushdown CANNOT answer from the manifest — these
  *    probes measure the DATA path;
  *  - `native` reads the very same parquet segment dirs with
  *    spark.read.parquet — identical bytes, identical codec;
  *  - the `pruned` probe is reported separately: there the connector
  *    is EXPECTED to beat native (manifest stats drop 2/3 segments
  *    before any IO), which is the tier's point, not a parity target.
  */
object ScanProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/tmp/graft_sf0.5")
    val spark = GraftSession()

    graft.operators.SqlDml.ensureCatalog(spark)
    // throughput needs BYTES: replicate orders 8x (disjoint key
    // ranges), then lay the ~6M rows out as the standard 3-segment
    // date-cut fixture through the shared builder
    val reps = sys.env.getOrElse("SPARK_GRAFT_SCANPROBE_REPS", "8").toInt
    val big = s"$sfDir/../graft_scanprobe_src"
    import org.apache.spark.sql.functions._
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
    val shift = orders.agg(max("o_orderkey")).collect().head.getLong(0) + 1
    (0 until reps).map(i => orders.withColumn("o_orderkey",
        col("o_orderkey") + lit(i * shift)))
      .reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$big/orders.parquet")
    val root = graft.operators.SqlDml.buildTable(spark, big,
      "orders_scanprobe")
    val segDirs = Seq("c0", "c1", "c2").map(c =>
      graft.sources.RloMeta.commitDir(root, c).toString)
    spark.read.parquet(segDirs: _*).createOrReplaceTempView("native_t")
    val conn = s"${graft.operators.SqlDml.Cat}.${graft.operators.SqlDml.Ns}.orders_scanprobe"

    /** (plan secs, exec secs) median-of-7 — planning (analysis +
      * manifest reads + physical planning) reported apart from the
      * scan itself: per-query constants vs per-byte throughput. */
    def medianSecs(sql: String): (Double, Double) = {
      val times = (1 to 7).map { _ =>
        val t0 = System.nanoTime()
        val df = spark.sql(sql)
        df.queryExecution.executedPlan
        val t1 = System.nanoTime()
        df.collect()
        ((t1 - t0) / 1e9, (System.nanoTime() - t1) / 1e9)
      }
      def med(xs: Seq[Double]) = xs.sorted.apply(xs.length / 2)
      (med(times.map(_._1)), med(times.map(_._2)))
    }

    // SUM keeps every probe on the data path (no metadata-agg answer)
    val shapes = Seq(
      ("full_3col", "SELECT COUNT(*) AS n, SUM(o_totalprice) AS s, " +
        "SUM(o_orderkey) AS k FROM %T"),
      ("narrow_1col", "SELECT SUM(o_orderkey) AS k FROM %T"),
      ("group_agg", "SELECT o_custkey %% 97 AS g, COUNT(*) AS n, " +
        "SUM(o_totalprice) AS s FROM %T GROUP BY 1 ORDER BY g"))

    val results = scala.collection.mutable.ArrayBuffer[String]()
    def fmt(name: String, native: (Double, Double),
        columnar: (Double, Double),
        rowBased: Option[(Double, Double)]): String = {
      val rb = rowBased.map { r =>
        f""""connector_row_exec_s":${r._2}%.3f,""" +
          f""""row_exec_vs_native":${r._2 / native._2}%.2f,"""
      }.getOrElse("")
      f"""{"probe":"$name","native_plan_s":${native._1}%.3f,""" +
        f""""native_exec_s":${native._2}%.3f,""" +
        f""""connector_plan_s":${columnar._1}%.3f,""" +
        f""""connector_exec_s":${columnar._2}%.3f,""" + rb +
        f""""exec_vs_native":${columnar._2 / native._2}%.2f,""" +
        f""""total_vs_native":${
          (columnar._1 + columnar._2) / (native._1 + native._2)}%.2f}"""
    }
    shapes.foreach { case (name, tpl) =>
      val q = tpl.replace("%%", "%")
      val native = medianSecs(q.replace("%T", "native_t"))
      val columnar = medianSecs(q.replace("%T", conn))
      spark.conf.set("spark.graft.rlo.columnar.enabled", "false")
      val rowBased = medianSecs(q.replace("%T", conn))
      spark.conf.unset("spark.graft.rlo.columnar.enabled")
      results += fmt(name, native, columnar, Some(rowBased))
    }

    // the pruning probe: connector drops 2/3 segments from manifest
    // stats; native reads everything and filters
    val pq = "SELECT SUM(o_totalprice) AS s FROM %T " +
      "WHERE o_orderdate >= DATE '1999-01-01'"
    results += fmt("pruned_date",
      medianSecs(pq.replace("%T", "native_t")),
      medianSecs(pq.replace("%T", conn)), None)

    // the MoR probe (r15 verdict #1): LIVE delete artifacts on the
    // COLUMNAR path vs the same content artifact-free. The "native"
    // slot is the artifact-free connector scan (the r14 done
    // criterion: MoR within ~1.5x of it); the row slot is the old
    // de-vectorized fallback the batch filter replaces.
    Seq(("mor_sparse_0.5pct", 200), ("mor_dense_5pct", 20))
      .foreach { case (name, mod) =>
        val tbl = s"orders_scanprobe_$mod"
        graft.operators.SqlDml.buildTable(spark, big, tbl, mode = "mor")
        val morConn =
          s"${graft.operators.SqlDml.Cat}.${graft.operators.SqlDml.Ns}.$tbl"
        spark.sql(
          s"DELETE FROM $morConn WHERE o_orderkey % $mod = 7")
        val mq = "SELECT COUNT(*) AS n, SUM(o_totalprice) AS s, " +
          "SUM(o_orderkey) AS k FROM %T"
        val artifactFree = medianSecs(mq.replace("%T", conn))
        val mor = medianSecs(mq.replace("%T", morConn))
        spark.conf.set("spark.graft.rlo.columnar.enabled", "false")
        val morRow = medianSecs(mq.replace("%T", morConn))
        spark.conf.unset("spark.graft.rlo.columnar.enabled")
        results += fmt(name, artifactFree, mor, Some(morRow))
      }

    results.foreach(println)
    spark.stop()
  }
}
