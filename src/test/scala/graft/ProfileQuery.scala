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
  * stages or a chain of single-task stages.
  *
  * Usage: sbt "Test/runMain graft.ProfileQuery q340_crosstable_mv [sfDir]"
  */
object ProfileQuery {
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
    val mainThread = Thread.currentThread()
    val samples = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    @volatile var sampling = true
    val sampler = new Thread(() => {
      while (sampling) {
        // wave threads start from the main thread, so they join its group
        val live = new Array[Thread](mainThread.getThreadGroup.activeCount + 16)
        val waves = live.take(mainThread.getThreadGroup.enumerate(live))
          .filter(_.getName.startsWith("graft-wave-"))
        (("" -> mainThread.getStackTrace) +:
            waves.toSeq.map(t => "[wave] " -> t.getStackTrace)).foreach {
          case (mark, st) =>
            val frame = st.find { f =>
              val c = f.getClassName
              (c.startsWith("org.apache.spark") || c.startsWith("graft")) &&
                !c.contains("ProfileQuery")
            }.map(f => s"${f.getClassName}.${f.getMethodName}")
              .getOrElse(if (st.isEmpty) "idle" else
                s"${st.head.getClassName}.${st.head.getMethodName}")
            samples.merge(mark + frame, 1, (a: Integer, b: Integer) => a + b)
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
      import scala.jdk.CollectionConverters._
      samples.asScala.toSeq.sortBy(-_._2).take(12).foreach { case (f, n) =>
        println(f"  ${n.toInt * 0.02}%7.2f s  $f")
      }
    }
    sampling = false
    spark.stop()
  }
}
