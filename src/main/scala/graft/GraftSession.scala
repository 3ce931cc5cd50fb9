package graft

import org.apache.spark.sql.SparkSession

/** The one way to build a graft session. Bench, Verify, Explain,
  * Pipeline, the test session and the dev tools all get their session
  * here, so the session policy (time zone, parquet timestamp reading,
  * DPP, split size, UI, log level) is decided once.
  *
  * Env knobs, each read only here:
  *  - SPARK_GRAFT_CPUS (default 4): core count of the `local[n]` master,
  *    for entry points that take it from the environment ([[cpus]]);
  *  - SPARK_GRAFT_SHUFFLE_PARTS (default: the core count);
  *  - SPARK_GRAFT_MAXPART (default 134217728, Spark's own default).
  */
object GraftSession {
  /** Core count from SPARK_GRAFT_CPUS (default 4). */
  val cpus: Int = {
    val raw = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    raw.toIntOption.filter(_ > 0).getOrElse(throw new IllegalArgumentException(
      s"SPARK_GRAFT_CPUS must be a positive integer, got '$raw'"))
  }

  // Scaling-experiment knob: by default shuffle partitions TRACK the
  // core count, so a low-core sweep also does fewer shuffle partitions
  // and the core-scaling signal conflates two variables (BASELINE.md
  // "Core-scaling protocol"). Setting SPARK_GRAFT_SHUFFLE_PARTS pins
  // the partition count independently of the core count for a
  // controlled scaling run.
  private val shufflePartsEnv = sys.env.get("SPARK_GRAFT_SHUFFLE_PARTS")

  // Stress-sweep knob: with the 1 MB-row-group ScaleUp data, a matching
  // split size parallelizes scans the way a real many-split input
  // would; the committed sf0.1 protocol keeps the Spark default
  private val maxPartitionBytes =
    sys.env.getOrElse("SPARK_GRAFT_MAXPART", "134217728")

  /** Get or create the session on a `local[cores]` master. */
  def apply(cores: Int = cpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions",
        shufflePartsEnv.getOrElse(cores.toString))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // standalone-subquery DPP (q351 and the partitioned tier rely on
      // runtime commit pruning without a reusable broadcast) - pinned
      // at builder time so planning never flips mid-session
      .config("spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.files.maxPartitionBytes", maxPartitionBytes)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
