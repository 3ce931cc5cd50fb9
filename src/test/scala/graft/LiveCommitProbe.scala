package graft

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

/** Measurement harness for the r12 verdict's scale-watch item #1:
  * snapshot reads resolve a version to its live commit set
  * driver-side and inline it as a static `.isin(live: _*)` partition
  * predicate (`TableFormat.commitsOf` / `readVersion`). Churn-sized
  * lists are fine by construction, but the LIVE set grows with
  * commit history unless maintenance bounds it — so measure the
  * actual cost of the literal at 1×/10×/100× commit counts, and what
  * q318-style bin-packing buys back.
  *
  * Per (commit-count, layout) row, median of 3:
  *   resolve_ms — manifest lookup + driver collect of the live set;
  *   plan_ms    — analyze/optimize/plan the isin-pruned read (the
  *                literal's compile cost; >10 values become an
  *                optimized InSet, so this is near-flat by design —
  *                the probe VERIFIES that, rather than assuming it);
  *   exec_ms    — the pruned count itself (partition listing +
  *                pruning against C on-disk partitions).
  *
  * The `compacted` layout packs 64 adjacent commits per consolidated
  * segment (the q318 move), so its live set — and every cost that
  * scales with the literal or the partition listing — is bounded by
  * maintenance cadence, not by history. TableFormatSpec asserts the
  * bound itself on the real q318 fixture; this probe prices it.
  *
  * Run: Test/runMain graft.LiveCommitProbe   (results → PERF_r13.md)
  */
object LiveCommitProbe {
  private val RowsPerCommit = 200L
  private val PackSize = 64

  def main(args: Array[String]): Unit = {
    val spark = GraftSession()

    def medianOf3(body: => Unit): Double = {
      val ts = (1 to 3).map { _ =>
        val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e6
      }
      ts.sorted.apply(1)
    }

    println(f"${"commits"}%8s ${"layout"}%12s ${"n_live"}%7s " +
      f"${"resolve_ms"}%11s ${"plan_ms"}%9s ${"exec_ms"}%9s")

    Seq(10, 100, 1000).foreach { commits =>
      val dataT = "graft_lcprobe_data"
      val mfT = "graft_lcprobe_manifest"
      Seq(dataT, mfT).foreach(graft.operators.Scale.dropManaged(spark, _))
      spark.range(0L, commits * RowsPerCommit, 1, 32)
        .select(col("id").as("k"),
          format_string("c%06d", col("id") % commits).as("commit_id"))
        .write.partitionBy("commit_id")
        .mode(SaveMode.Overwrite).saveAsTable(dataT)
      val allCommits =
        (0 until commits).map(i => f"c$i%06d")
      import spark.implicits._
      allCommits.map((1, _)).toDF("version", "commit_id")
        .write.mode(SaveMode.Overwrite).saveAsTable(mfT)

      def probe(layout: String, live: Seq[String], v: Int): Unit = {
        val resolveMs = medianOf3 {
          graft.operators.TableFormat.commitsOf(spark, mfT, v)
        }
        val planMs = medianOf3 {
          spark.table(dataT)
            .filter(col("commit_id").isin(live: _*))
            .agg(count(lit(1)))
            .queryExecution.executedPlan // force full planning
        }
        val execMs = medianOf3 {
          spark.table(dataT)
            .filter(col("commit_id").isin(live: _*))
            .agg(count(lit(1))).collect()
        }
        println(f"$commits%8d $layout%12s ${live.size}%7d " +
          f"$resolveMs%11.1f $planMs%9.1f $execMs%9.1f")
      }

      probe("uncompacted", allCommits, 1)

      // q318-style bin-pack: 64 adjacent commits -> one pack segment;
      // live set (and the literal) bounded by maintenance cadence
      val packOf = allCommits.map(c =>
        (c, f"p${c.stripPrefix("c").toInt / PackSize}%04d"))
      val packs = packOf.map(_._2).distinct.sorted
      spark.table(dataT)
        .join(broadcast(packOf.toDF("commit_id", "pack")), "commit_id")
        .select(col("k"), col("pack").as("commit_id"))
        .write.insertInto(dataT)
      packs.map((2, _)).toDF("version", "commit_id")
        .write.insertInto(mfT)
      probe("compacted", packs, 2)
    }
    spark.stop()
  }
}
