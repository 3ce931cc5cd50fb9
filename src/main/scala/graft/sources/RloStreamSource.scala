package graft.sources

import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}

/** CONNECTOR TABLE AS A STREAMING SOURCE (r14 verdict #5's "ideally
  * MICRO_BATCH_READ"): `spark.readStream.table("graft_rlo.db.t")`
  * plans micro-batches as VERSION RANGES of the manifest — the
  * offset IS the version number, so a batch's input is exactly the
  * segments appended between two committed versions, discovered by
  * one manifest diff (no listing, no file-arrival inference; the
  * Delta/Iceberg streaming-source shape).
  *
  * Contract:
  *  - The FIRST batch is the initial snapshot (offset 0 → head at
  *    stream start), then each trigger consumes the appends since
  *    the last committed version.
  *  - APPEND-ONLY: a version step that replaced/dropped segments
  *    (copy-on-write DML, OPTIMIZE swaps) or added delete artifacts
  *    fails the stream LOUDLY — rewrites are not representable as
  *    append rows; consume them via `table_changes` (q367), the CDC
  *    read. Silent re-emission or loss is never on the table.
  *  - Exactly-once rides Spark's offset log: versions are committed
  *    to the checkpoint, and re-planning a (start, end] range is
  *    deterministic because manifests are immutable.
  *
  * At 100 TB this is the consumer half of the connector's
  * incremental discipline: a downstream MV tails the table at
  * O(churn) per trigger, never O(table). */
class RloMicroBatchStream(root: String, outJson: String,
    keyCol: String) extends MicroBatchStream {

  private def conf = RloMeta.sessionConf

  override def initialOffset(): Offset = RloVersionOffset(0)

  override def latestOffset(): Offset =
    RloVersionOffset(RloMeta.headVersion(conf, root))

  override def deserializeOffset(json: String): Offset =
    RloVersionOffset(json.trim.toInt)

  override def planInputPartitions(start: Offset,
      end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[RloVersionOffset].v
    val e = end.asInstanceOf[RloVersionOffset].v
    if (e <= s) return Array.empty
    val pre =
      if (s == 0) Seq.empty[String]
      else RloMeta.commitsOf(conf, root, s)._2
    val post = RloMeta.commitsOf(conf, root, e)._2
    val removed = pre.filterNot(post.toSet)
    require(removed.isEmpty,
      s"append-only stream violated between versions $s and $e of " +
        s"$root: segments ${removed.mkString(",")} were replaced or " +
        "dropped (copy-on-write DML / OPTIMIZE / REPLACE). Rewrites " +
        "are not representable as appended rows - consume them " +
        "through table_changes (the CDC read) instead")
    val preDel =
      if (s == 0) Seq.empty[String]
      else RloMeta.deletesOf(conf, root, s)
    val newDel = RloMeta.deletesOf(conf, root, e)
      .filterNot(preDel.toSet)
    require(newDel.isEmpty,
      s"append-only stream violated between versions $s and $e of " +
        s"$root: delete artifacts ${newDel.mkString(",")} were " +
        "added (merge-on-read DML). Consume deletes through " +
        "table_changes instead")
    val appended = post.filterNot(pre.toSet)
    RloScan.planChunks(conf, root, appended, Map.empty, keyCol)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new RloReaderFactory(outJson, columnar = false)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

case class RloVersionOffset(v: Int) extends Offset {
  override def json: String = v.toString
}
