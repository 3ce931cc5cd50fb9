package graft

/** Ad-hoc output-cardinality probe (test scope, not shipped): prints
  * the row count of the named catalog queries at a given sfDir. Used
  * to normalize stress-ratio readings for queries whose OUTPUT
  * relation legitimately grows superlinearly under ScaleUp's
  * verbatim-name replication (lev≤d name pairs grow ~R² in the
  * replica count — see the stress-epoch pin in BASELINE.md), so the
  * fair scale metric is time per output row, not wall-clock alone.
  *
  * Usage: sbt "Test/runMain graft.CountRows q230_fuzzy_join[,more] [sfDir]"
  */
object CountRows {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").toSeq
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = GraftSession()
    names.foreach { name =>
      val n = SparkEntry.queries(name)(spark, sfDir).count()
      println(s"[countrows] $name @ $sfDir: $n rows")
    }
    spark.stop()
  }
}
