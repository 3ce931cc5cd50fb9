package graft

/** Ad-hoc per-query micro-bench (test scope, not shipped): times the
  * named catalog queries in isolation, 3 runs each, median reported —
  * the tool for chasing a single bench outlier without a full
  * `graft.Bench` sweep.
  *
  * Usage: sbt "Test/runMain graft.QueryBench q51_asof_join,q76_asof_native [sfDir]"
  */
object QueryBench {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").toSeq
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = GraftSession()
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      val ts = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"[qbench] $name: ${ts.map(t => f"$t%.2f").mkString(" ")}" +
        f"  median ${ts.sorted.apply(1)}%.2f")
    }
    spark.stop()
  }
}
