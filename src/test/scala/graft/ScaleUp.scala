package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Driver-side tooling (never part of the library): synthesize an
  * N×-replicated copy of a testdata directory for the second-scale
  * stress sweep (PERF_r07). Replication must scale the WORK, not
  * change its complexity class, so:
  *
  *  - dimension tables (region, nation) are copied once — they are
  *    dimensions at every scale;
  *  - every fact/entity key domain is shifted per replica by
  *    (max_key + 1), keeping FK joins consistent inside a replica and
  *    key spaces disjoint across replicas;
  *  - document TEXT gets a per-replica token suffix (every token), so
  *    cross-replica Jaccard is 0 and the near-dup pair count grows
  *    LINEARLY with replicas (verbatim copies would create quadratic
  *    cross-replica dup pairs — a different, artificial workload);
  *  - embeddings get a per-replica deterministic SIGN-FLIP pattern
  *    (norms and per-dimension magnitudes preserved exactly, cross-
  *    replica cosine ≈ 0), linearizing the cosine-threshold tiers the
  *    same way;
  *  - event timestamps are kept, so time-window densities grow N× —
  *    what real growth does to a stream.
  *
  * Usage: ScaleUp <srcDir> <dstDir> <replicas>
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val (src, dst, reps) = (args(0), args(1), args(2).toInt)
    val spark = GraftSession()

    def tbl(name: String): DataFrame =
      spark.read.parquet(s"$src/$name.parquet")
    // the driver's testdata tables are SINGLE FILES named
    // <table>.parquet (not directories) and the streaming sources
    // pathGlobFilter on that filename — mirror the layout exactly:
    // write one part file to a temp dir, then move it into place
    // (coalesce(1) is fine here: this is stress-data tooling, the
    // biggest table is tens of MB per replica batch)
    def save(df: DataFrame, name: String): Unit = {
      val tmp = s"$dst/_tmp_$name"
      // 1 MB row groups: a single small file with ONE row group cannot
      // split, which serializes every narrow-heavy chain downstream —
      // an artifact real inputs (many ≥128 MB splits) don't have. Row-
      // group-sized blocks make the stress file splittable, so the
      // sweep (with spark.sql.files.maxPartitionBytes set to match)
      // measures the ALGORITHM's scaling, not a tiny-file accident.
      df.coalesce(1).write.mode("overwrite")
        .option("parquet.block.size", (1024 * 1024).toString)
        .parquet(tmp)
      val fs = org.apache.hadoop.fs.FileSystem.get(
        spark.sparkContext.hadoopConfiguration)
      val part = fs.globStatus(
        new org.apache.hadoop.fs.Path(s"$tmp/part-*.parquet")).head.getPath
      val target = new org.apache.hadoop.fs.Path(s"$dst/$name.parquet")
      fs.delete(target, true)
      fs.rename(part, target)
      fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    }
    def off(df: DataFrame, key: String): Long =
      df.agg(max(col(key))).head().getLong(0) + 1L

    // replicate with per-replica column rewrites; r = 0 is verbatim
    def replicate(df: DataFrame)(
        rewrite: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until reps).map(r => rewrite(df, r)).reduce(_ unionByName _)

    save(tbl("region"), "region")
    save(tbl("nation"), "nation")

    val cust = tbl("customer"); val oc = off(cust, "c_custkey")
    save(replicate(cust)((d, r) =>
      d.withColumn("c_custkey", col("c_custkey") + lit(r * oc))),
      "customer")

    val supp = tbl("supplier"); val os = off(supp, "s_suppkey")
    save(replicate(supp)((d, r) =>
      d.withColumn("s_suppkey", col("s_suppkey") + lit(r * os))),
      "supplier")

    val part = tbl("part"); val op = off(part, "p_partkey")
    save(replicate(part)((d, r) =>
      d.withColumn("p_partkey", col("p_partkey") + lit(r * op))),
      "part")

    val orders = tbl("orders"); val oo = off(orders, "o_orderkey")
    save(replicate(orders)((d, r) =>
      d.withColumn("o_orderkey", col("o_orderkey") + lit(r * oo))
        .withColumn("o_custkey", col("o_custkey") + lit(r * oc))),
      "orders")

    save(replicate(tbl("lineitem"))((d, r) =>
      d.withColumn("l_orderkey", col("l_orderkey") + lit(r * oo))
        .withColumn("l_partkey", col("l_partkey") + lit(r * op))
        .withColumn("l_suppkey", col("l_suppkey") + lit(r * os))),
      "lineitem")

    val ev = tbl("events")
    val oe = off(ev, "event_id"); val ou = off(ev, "user_id")
    save(replicate(ev)((d, r) =>
      d.withColumn("event_id", col("event_id") + lit(r * oe))
        .withColumn("user_id", col("user_id") + lit(r * ou))),
      "events")

    val docs = tbl("documents"); val od = off(docs, "doc_id")
    save(replicate(docs)((d, r) =>
      d.withColumn("doc_id", col("doc_id") + lit(r * od))
        .withColumn("text",
          if (r == 0) col("text")
          else array_join(transform(split(col("text"), " "),
            w => concat(w, lit(s"_$r"))), " "))),
      "documents")

    val emb = tbl("embeddings"); val ov = off(emb, "vec_id")
    save(replicate(emb)((d, r) =>
      d.withColumn("vec_id", col("vec_id") + lit(r * ov))
        .withColumn("embedding",
          if (r == 0) col("embedding")
          else expr(s"transform(embedding, (x, i) -> " +
            s"CASE WHEN pmod(hash(i, $r), 2) = 0 THEN x ELSE -x END)"))),
      "embeddings")

    println(s"[scaleup] $reps x $src -> $dst done")
    spark.stop()
  }
}
