package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** INCREMENTAL (CDC) READ for connector tables — r14 verdict #5: the
  * q351 `table_changes(v1, v2)` discipline ported to the `graft_rlo`
  * tier, so the engine's own incremental-maintenance loops can
  * consume the connector's commits instead of re-reading heads.
  *
  * Version-diff read planning is PURE MANIFEST ARITHMETIC: for each
  * step v -> v+1,
  *
  *  - segments in v+1 but not v are APPENDED — their rows are the
  *    step's inserts;
  *  - segments in v but not v+1 were REPLACED or DROPPED — their
  *    rows are the step's deletes (a copy-on-write UPDATE therefore
  *    reads as delete(old group rows) + insert(new group rows), the
  *    Iceberg changelog-scan semantics);
  *  - delete batches in v+1 but not v are merge-on-read artifact
  *    appends — their keys resolve to delete rows against the PRE
  *    version, restricted to the artifacts' exactly-targeted
  *    segments.
  *
  * Every read goes through the SQL surface as a `VERSION AS OF` scan
  * with a `_partition IN (...)` predicate, which the scan builder's
  * partition pin turns into plan-time group pruning — the step reads
  * open ONLY churn segments, never the table (spec-asserted). At
  * 100 TB an incremental consumer's cost is proportional to the
  * changes, not the history.
  */
object RloChanges {

  /** Changes between `fromV` (exclusive base) and `toV` (inclusive),
    * one row per inserted/deleted row with `version` (the post
    * version of its step) and `_change_type` ('insert' | 'delete').
    * `sqlTable` is the catalog-qualified name; `root` its storage
    * root (for the manifest diff). */
  def tableChanges(spark: SparkSession, sqlTable: String, root: String,
      fromV: Int, toV: Int): DataFrame = {
    val conf = RloMeta.sessionConf
    require(fromV < toV, s"need fromV < toV, got $fromV..$toV")
    val schema = RloMeta.readSchema(conf, root)
    val keyCol = schema.head.name
    val colList = schema.fieldNames.map(n => s"`$n`").mkString(", ")

    def readSegs(ver: Int, segs: Seq[String]): DataFrame = {
      val df = spark.sql(
        s"SELECT $colList, _partition FROM $sqlTable VERSION AS OF $ver")
      // the IN predicate on the metadata column pins the planned
      // commit set (RloScanBuilder.partitionPin) — churn-only IO
      df.filter(col("_partition").isin(segs: _*))
        .drop("_partition")
    }

    def tagged(df: DataFrame, v: Int, tpe: String): DataFrame =
      df.withColumn("version", lit(v))
        .withColumn("_change_type", lit(tpe))

    val steps = (fromV until toV).flatMap { v =>
      val pre = RloMeta.commitsOf(conf, root, v)._2
      val post = RloMeta.commitsOf(conf, root, v + 1)._2
      val added = post.filterNot(pre.toSet)
      val removed = pre.filterNot(post.toSet)
      val newBatches = RloMeta.deletesOf(conf, root, v + 1)
        .filterNot(RloMeta.deletesOf(conf, root, v).toSet)

      val inserts =
        if (added.isEmpty) None
        else Some(tagged(readSegs(v + 1, added), v + 1, "insert"))
      val removals =
        if (removed.isEmpty) None
        else Some(tagged(readSegs(v, removed), v + 1, "delete"))
      // merge-on-read artifact appends: keys are exactly routed to
      // their target segments, so the pre-image read opens only
      // those — the artifact relation is churn-bounded by contract
      val artifactDeletes =
        if (newBatches.isEmpty) None
        else {
          val keys = RloMeta.readDeleteKeys(conf, root, newBatches)
          if (keys.isEmpty) None
          else {
            import spark.implicits._
            val keyDf = keys.toSeq.flatMap { case (c, ks) =>
              ks.map(k => (c, k))
            }.toDF("target_commit", "del_key")
            val pre = spark.sql(s"SELECT $colList, _partition " +
              s"FROM $sqlTable VERSION AS OF $v")
              .filter(col("_partition").isin(keys.keys.toSeq: _*))
            Some(tagged(
              pre.join(broadcast(keyDf),
                pre(keyCol) === keyDf("del_key") &&
                  pre("_partition") === keyDf("target_commit"),
                "leftsemi").drop("_partition"),
              v + 1, "delete"))
          }
        }
      Seq(inserts, removals, artifactDeletes).flatten
    }

    steps.reduceOption(_ unionByName _).getOrElse {
      import spark.implicits._
      spark.emptyDataset[Long].toDF(keyCol)
        .withColumn("version", lit(0))
        .withColumn("_change_type", lit(""))
    }
  }
}
