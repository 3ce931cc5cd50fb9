package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Dev profiler (test scope, not shipped): runs ONE catalog query with
  * a listener that records every Spark job's wall time and call site,
  * then prints the jobs sorted by duration plus the gaps (driver-side
  * time between jobs). This is the guide-§1 empirical loop without a
  * UI: it tells you which pass inside a multi-job catalog query owns
  * the seconds — fixture write vs certificate vs serving read — so
  * optimization effort lands where the time is. One line per completed
  * stage follows: task count, executor run and CPU ms, shuffle write
  * bytes and input rows — the view that shows a kernel evaluated in two
  * stages or a chain of single-task stages. Last comes the Hadoop
  * overhead tally: sampled time of the driver threads (main, waves,
  * stream execution) and of running tasks inside spawned subprocesses
  * and Hadoop config parsing, by caller ([[hadoopCost]]).
  *
  * Usage: sbt "Test/runMain graft.ProfileQuery q340_crosstable_mv [sfDir]"
  */
object ProfileQuery {
  import scala.jdk.CollectionConverters._

  /** The Hadoop overheads one sampled stack is inside, as
    * "<shell|conf-load> <caller> <caller frame> -> <Hadoop entry>":
    * `Shell.runCommand` is a spawned subprocess (on a JVM without
    * libhadoop the local FS runs `chmod` per created file or directory
    * and `readlink` per FileContext rename), and
    * `Configuration.loadResource*` is the XML parse a freshly built
    * Hadoop config pays when first read. The caller is the first of: a
    * stream checkpoint (metadata logs, checkpoint file manager, state
    * stores), a write commit (output committer, file writer), RLO
    * metadata (`graft.sources`), else "other" (any graft frame); the
    * Hadoop entry is the outermost Hadoop frame it called. */
  def hadoopCost(st: Array[StackTraceElement]): Seq[String] = {
    def inside(cls: String, m: String => Boolean) =
      st.exists(f => f.getClassName == cls && m(f.getMethodName))
    val what =
      (if (inside("org.apache.hadoop.util.Shell", _ == "runCommand"))
        Seq("shell") else Nil) ++
      (if (inside("org.apache.hadoop.conf.Configuration",
          _.startsWith("loadResource"))) Seq("conf-load") else Nil)
    val callers = Seq[(String, String => Boolean)](
      "stream checkpoint" -> (c => c.contains("HDFSMetadataLog") ||
        c.contains("CheckpointFileManager") ||
        c.contains(".streaming.state.") || c.contains("StreamMetadata")),
      "write commit" -> (c => c.contains("OutputCommitter") ||
        c.contains("CommitProtocol") || c.contains("FileFormatWriter") ||
        c.contains("ParquetOutputWriter") ||
        c.contains("parquet.hadoop.ParquetFileWriter")),
      "RloMeta" -> (_.startsWith("graft.sources.")),
      "other" -> (_.startsWith("graft.")))
    def name(f: StackTraceElement) =
      s"${f.getClassName.split('.').last}.${f.getMethodName}"
    if (what.isEmpty) Nil
    else {
      val (caller, at) = callers.iterator
        .map { case (c, p) => c -> st.indexWhere(f => p(f.getClassName)) }
        .find(_._2 >= 0).getOrElse("other" -> st.length)
      val site = st.lift(at).map(name).getOrElse("?")
      val entry = st.take(at)
        .lastIndexWhere(_.getClassName.startsWith("org.apache.hadoop."))
      val via = if (entry < 0) "" else " -> " + name(st(entry))
      what.map(w => s"$w $caller $site$via")
    }
  }

  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").toSeq
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = GraftSession()

    // untimed warmup (same as Bench) so JVM/codegen startup isn't
    // attributed to the profiled query
    try SparkEntry.queries("q1_agg")(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    catch { case scala.util.control.NonFatal(_) => () }

    case class Job(id: Int, start: Long, var end: Long, site: String)
    val jobs = scala.collection.mutable.ArrayBuffer.empty[Job]
    case class Stage(id: Int, attempt: Int, tasks: Int, runMs: Long,
        cpuMs: Long, shuffleWriteBytes: Long, inputRows: Long, name: String)
    val stages = scala.collection.mutable.ArrayBuffer.empty[Stage]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.synchronized {
          jobs += Job(e.jobId, e.time, -1L,
            Option(e.properties.getProperty("callSite.short")).getOrElse("?"))
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.synchronized {
          jobs.find(_.id == e.jobId).foreach(_.end = e.time)
        }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        stages.synchronized {
          val i = e.stageInfo
          val m = i.taskMetrics
          stages += Stage(i.stageId, i.attemptNumber(), i.numTasks,
            m.executorRunTime, m.executorCpuTime / 1000000L,
            m.shuffleWriteMetrics.bytesWritten, m.inputMetrics.recordsRead,
            i.name)
        }
    })

    // driver stack sampler: every 20 ms grab the deepest "interesting"
    // frame of the main thread and of every live concurrent-wave thread
    // (`Scale.inParallel` names them graft-wave-<i>; while a wave runs
    // the main thread only sits in Thread.join) — the guide-§7.3
    // thread-dump loop, automated — so the driver-side gap time between
    // jobs becomes attributable. Wave samples are marked `[wave]`.
    // The same dump feeds the Hadoop-overhead tally (see `hadoopCost`).
    val mainThread = Thread.currentThread()
    val samples = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    val hadoop = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    def count(m: java.util.concurrent.ConcurrentHashMap[String, Integer],
        k: String): Unit = m.merge(k, 1, (a: Integer, b: Integer) => a + b)
    @volatile var sampling = true
    val sampler = new Thread(() => {
      while (sampling) {
        val dump = Thread.getAllStackTraces.asScala
        dump.foreach { case (t, st) =>
          val mark =
            if (t eq mainThread) Some("")
            else if (t.getName.startsWith("graft-wave-")) Some("[wave] ")
            else None
          mark.foreach { m =>
            val frame = st.find { f =>
              val c = f.getClassName
              (c.startsWith("org.apache.spark") || c.startsWith("graft")) &&
                !c.contains("ProfileQuery")
            }.map(f => s"${f.getClassName}.${f.getMethodName}")
              .getOrElse(if (st.isEmpty) "idle" else
                s"${st.head.getClassName}.${st.head.getMethodName}")
            count(samples, m + frame)
          }
          val role =
            if (st.exists(_.getClassName ==
                "org.apache.spark.executor.Executor$TaskRunner")) Some("task")
            else if (mark.isDefined ||
                t.getName.startsWith("stream execution thread")) Some("driver")
            else None
          role.foreach { r =>
            count(hadoop, s"$r total")
            hadoopCost(st).foreach(c => count(hadoop, s"$r $c"))
          }
        }
        Thread.sleep(20)
      }
    })
    sampler.setDaemon(true)
    sampler.start()

    names.foreach { name =>
      jobs.synchronized(jobs.clear())
      stages.synchronized(stages.clear())
      samples.clear()
      hadoop.clear()
      val fn = SparkEntry.queries(name)
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val total = (System.nanoTime() - t0) / 1e9
      Thread.sleep(500) // let listener events drain

      val done = jobs.synchronized(jobs.toVector).filter(_.end > 0)
      println(f"=== $name total ${total}%.3f s, ${done.size} jobs ===")
      val jobSum = done.map(j => (j.end - j.start) / 1e3).sum
      println(f"job time sum ${jobSum}%.3f s (rest is driver-side)")
      println("--- jobs by duration ---")
      done.sortBy(j => -(j.end - j.start)).take(10).foreach { j =>
        println(f"  ${(j.end - j.start) / 1e3}%8.3f s  job ${j.id}%4d  ${j.site}")
      }
      println("--- stages in completion order: tasks, executor run / " +
        "CPU ms, shuffle write bytes, input rows ---")
      stages.synchronized(stages.toVector).foreach { st =>
        println(f"  stage ${st.id}%4d.${st.attempt} ${st.tasks}%5d tasks " +
          f"run ${st.runMs}%7d ms cpu ${st.cpuMs}%7d ms " +
          f"shuffle-w ${st.shuffleWriteBytes}%10d B in ${st.inputRows}%9d rows" +
          s"  ${st.name}")
      }
      println("--- driver stack samples (20 ms), main and wave threads ---")
      samples.asScala.toSeq.sortBy(-_._2).take(12).foreach { case (f, n) =>
        println(f"  ${n.toInt * 0.02}%7.2f s  $f")
      }
      val tally = hadoop.asScala.toMap.map { case (k, n) => k -> n.toInt }
      def sampled(role: String) = tally.getOrElse(s"$role total", 0)
      println(f"--- Hadoop overheads (20 ms samples): driver ${sampled("driver") * 0.02}%.2f s " +
        f"sampled, task ${sampled("task") * 0.02}%.2f s sampled; time inside " +
        "Shell.runCommand (spawned chmod/readlink/...) and Configuration " +
        "resource loading, by caller ---")
      val costs = tally.toSeq.filterNot(_._1.endsWith(" total"))
      if (costs.isEmpty) println("  none")
      costs.sortBy(-_._2).foreach { case (k, n) =>
        val role = k.takeWhile(_ != ' ')
        println(f"  ${n * 0.02}%7.2f s  ${100.0 * n / math.max(1, sampled(role))}%5.1f%% of $k")
      }
    }
    sampling = false
    spark.stop()
  }
}
