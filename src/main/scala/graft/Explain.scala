package graft

/** Dev harness: time named catalog queries (noop sink, full plan) and
  * optionally dump the formatted physical plan.
  *
  * Usage: runMain graft.Explain [--explain] [--dump=DIR] q3_join_agg ...
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (default 4).
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val showPlan = args.contains("--explain")
    val dumpDir = args.collectFirst {
      case a if a.startsWith("--dump=") => a.stripPrefix("--dump=") }
    val names = args.filterNot(_.startsWith("--"))
    val spark = GraftSession()
    // same untimed warmup as Bench
    try SparkEntry.queries("q1_agg")(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    catch { case scala.util.control.NonFatal(_) => () }
    names.foreach { name =>
      SparkEntry.queries.get(name) match {
        case None => System.err.println(s"unknown query: $name")
        case Some(fn) =>
          val df = fn(spark, sfDir)
          if (showPlan) { println(s"=== $name plan ==="); df.explain("formatted") }
          val t0 = System.nanoTime()
          dumpDir match {
            case Some(d) => df.coalesce(1).write.mode("overwrite")
              .parquet(s"$d/$name")
            case None => df.write.format("noop").mode("overwrite").save()
          }
          println(f"=== $name: ${(System.nanoTime() - t0) / 1e9}%.3f s")
      }
    }
    spark.stop()
  }
}
