package graft

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Measurement harness for PERF_r10's two-level-metadata table: what
  * does PLANNING (derive the file set for a probe) cost under a FLAT
  * manifest vs the q322 manifest-list layout, as the table's file
  * count scales 1×/5×/25×/100×?
  *
  * The metadata is synthesized directly — the question is about
  * manifest size, not data size, so the 25× point models a ~100 TB
  * table (204,800 files × 512 MB) with megabytes of metadata. Each
  * commit covers a contiguous key span, 32 files per commit; the
  * probe is a fixed narrow key range touching 2 commits.
  *
  *   flat      : one manifest table of N file-stat rows; planning =
  *               full metadata scan + overlap filter.
  *   two-level : manifest list (1 row per commit) + per-commit
  *               manifest files (the manifests table partitioned by
  *               commit); planning = list scan → partition-pruned
  *               read of the hit manifests.
  *
  * Both plans must return the identical file set (asserted). Output:
  * one line per (scale, layout) with planning wall time (median of
  * 3) and metadata rows READ — the cluster-scale signal: flat reads
  * N rows per probe, two-level reads C + |hit|·F.
  *
  * Run: Test/runMain graft.ManifestListProbe
  */
object ManifestListProbe {
  private val FilesPerCommit = 32
  private val KeysPerFile = 1000L

  def main(args: Array[String]): Unit = {
    val spark = GraftSession()

    def buildAndProbe(scaleName: String, commits: Int): Unit = {
      val n = commits.toLong * FilesPerCommit
      val flatT = "graft_mlprobe_flat"
      val mfT = "graft_mlprobe_manifests"
      val listT = "graft_mlprobe_list"
      Seq(flatT, mfT, listT)
        .foreach(graft.operators.Scale.dropManaged(spark, _))
      // file i covers keys [i*K, (i+1)*K); commit = i / FilesPerCommit
      val files = spark.range(0L, n, 1, 32)
        .select(col("id").as("file_id"),
          format_string("c%06d", (col("id") / FilesPerCommit).cast("long"))
            .as("commit_id"),
          (col("id") * KeysPerFile).as("min_k"),
          ((col("id") + 1) * KeysPerFile - 1).as("max_k"))
      files.write.mode(SaveMode.Overwrite).saveAsTable(flatT)
      files.write.partitionBy("commit_id")
        .mode(SaveMode.Overwrite).saveAsTable(mfT)
      spark.table(mfT).groupBy(col("commit_id"))
        .agg(min(col("min_k")).as("min_k"), max(col("max_k")).as("max_k"))
        .write.mode(SaveMode.Overwrite).saveAsTable(listT)

      // fixed probe: 1.5 commits' worth of keys, mid-table
      val lo = n / 2 * KeysPerFile
      val hi = lo + (FilesPerCommit * 3 / 2) * KeysPerFile
      def overlap(df: DataFrame): DataFrame =
        df.filter(col("max_k") >= lo && col("min_k") < hi)

      def planFlat(): Seq[Long] =
        overlap(spark.table(flatT))
          .select(col("file_id")).collect().map(_.getLong(0)).toSeq.sorted
      def planTwoLevel(): Seq[Long] = {
        val hit = overlap(spark.table(listT))
          .select(col("commit_id")).collect().map(_.getString(0)).toSeq
        overlap(spark.table(mfT).filter(col("commit_id").isin(hit: _*)))
          .select(col("file_id")).collect().map(_.getLong(0)).toSeq.sorted
      }
      val selected = planFlat()
      require(selected == planTwoLevel(), "plans disagree on file set")
      val hitCommits = overlap(spark.table(listT)).count()

      def med3(f: () => Seq[Long]): Double = {
        f() // warm
        val ts = (1 to 3).map { _ =>
          val t0 = System.nanoTime(); f(); (System.nanoTime() - t0) / 1e9
        }
        ts.sorted.apply(1)
      }
      val tFlat = med3(() => planFlat())
      val tTwo = med3(() => planTwoLevel())
      val rowsFlat = n
      val rowsTwo = commits + hitCommits * FilesPerCommit
      println(f"MLPROBE $scaleName%-4s files=$n%7d flat_s=$tFlat%.3f " +
        f"two_s=$tTwo%.3f flat_rows_read=$rowsFlat%7d " +
        f"two_rows_read=$rowsTwo%6d selected=${selected.size}")
    }

    buildAndProbe("1x", 256)
    buildAndProbe("5x", 1280)
    buildAndProbe("25x", 6400)
    buildAndProbe("100x", 25600)
    spark.stop()
  }
}
