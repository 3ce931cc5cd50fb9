package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Scratch, SparkEntry}
import graft.functions.{TextExprs, VectorExprs}

/** JVM side of the benchmark: one process runs one workload as a single
  * client in a closed loop and writes raw samples as JSON; `run.py`
  * turns them into metrics. The program sees only query names, in the
  * order the seed gives, through `SparkEntry.queries`.
  *
  *   Runner bench --data D --queries a,b,.. --seed N --seconds S
  *          --warmup W --trace 0|1 --cores C --out F [--min-rounds R]
  *   Runner fingerprint --dumps DIR --queries a,b,.. --out F
  *
  * `fingerprint` reads `graft.Verify` parquet dumps, so the expected
  * outputs are fingerprinted by the same code as the live ones. */
object Runner {
  def main(args: Array[String]): Unit = {
    val opt = args.tail.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    args.head match {
      case "bench" => bench(opt)
      case "fingerprint" => fingerprintDumps(opt)
    }
  }

  private def session(cores: Int): SparkSession = {
    // the settings graft.Bench uses, with shuffle partitions = cores
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.files.maxPartitionBytes", "134217728")
      .config("spark.local.dir", Paths.get("spark-local").toAbsolutePath.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def fingerprintDumps(opt: Map[String, String]): Unit = {
    val spark = session(Runtime.getRuntime.availableProcessors)
    val fps = opt("queries").split(",").toSeq.map { q =>
      q -> Fingerprint.of(spark.read.parquet(s"${opt("dumps")}/$q"))
    }
    Files.writeString(Paths.get(opt("out")), Json(fps.toMap.map { case (q, (n, h)) =>
      q -> Map("rows" -> n, "hash" -> h) }))
    spark.stop()
  }

  /** Clean room between queries, as in graft.Bench: stop leaked streams,
    * clear the cache, restart embedded Derby, sweep the scratch zone, GC,
    * and wait for lingering pinned blocks. Returns that wait in seconds. */
  private def cleanRoom(spark: SparkSession): Double = {
    spark.streams.active.foreach { q =>
      try q.stop() catch { case NonFatal(_) => () }
    }
    spark.catalog.clearCache()
    try java.sql.DriverManager.getConnection("jdbc:derby:;shutdown=true")
    catch { case _: java.sql.SQLException => () }
    try java.sql.DriverManager.getDriver("jdbc:derby:probe")
    catch { case _: java.sql.SQLException =>
      try java.sql.DriverManager.registerDriver(
        Class.forName("org.apache.derby.jdbc.EmbeddedDriver")
          .getDeclaredConstructor().newInstance().asInstanceOf[java.sql.Driver])
      catch { case NonFatal(_) => () }
    }
    Scratch.deleteRecursively(Paths.get(Scratch.dir("")))
    System.gc()
    val t0 = System.nanoTime()
    var tries = 0
    while (spark.sparkContext.getRDDStorageInfo.nonEmpty && tries < 30) {
      System.gc(); Thread.sleep(100); tries += 1
    }
    (System.nanoTime() - t0) / 1e9
  }

  /** Files written since `sinceMs` under the scratch zone and the
    * warehouse, counted before the reset sweeps them. */
  private def filesWrittenSince(sinceMs: Long): Int = {
    var files = 0
    for (root <- Seq(Paths.get(Scratch.dir("")), Paths.get("spark-warehouse"))
         if Files.exists(root)) {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).foreach { p =>
        if (Files.getLastModifiedTime(p).toMillis >= sinceMs) {
          files += 1
        }
      } finally s.close()
    }
    files
  }

  /** CPU steal and total jiffies from /proc/stat (zeros where absent). */
  private def cpuTicks(): (Long, Long) =
    try {
      val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")
      val v = f.drop(1).map(_.toLong)
      (if (v.length > 7) v(7) else 0L, v.take(8).sum)
    } catch { case NonFatal(_) => (0L, 0L) }

  /** Share of CPU time stolen by the hypervisor between two readings. */
  private def stealFrac(a: (Long, Long), b: (Long, Long)): Double =
    if (b._2 > a._2) (b._1 - a._1).toDouble / (b._2 - a._2) else 0.0

  private def vmHwmMb(): Double =
    try Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    catch { case NonFatal(_) => 0.0 }

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def timed(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  private def bench(opt: Map[String, String]): Unit = {
    val data = opt("data")
    val names = opt("queries").split(",").toSeq
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val warmup = opt("warmup").toInt
    val minRounds = opt.getOrElse("min-rounds", "1").toInt
    val trace = opt("trace") == "1"
    val cores = opt("cores").toInt
    val os = ManagementFactory.getOperatingSystemMXBean
    val loadStart = os.getSystemLoadAverage

    val spark = session(cores)
    val sc = spark.sparkContext
    val tracer = new Tracer(spark)
    val spans = mutable.ArrayBuffer.empty[Span]
    val epoch0 = System.currentTimeMillis(); val nano0 = System.nanoTime()
    def ms(n: Long): Double = epoch0 + (n - nano0) / 1e6

    /** The permutation of round `r`; warm-up rounds are negative. */
    def order(r: Int): Seq[String] = new scala.util.Random(seed * 1000003L + r).shuffle(names)

    final case class Sample(round: Int, query: String, build: Double, serve: Double,
        gc: Double, ok: Boolean, error: String, layers: Map[String, Double])
    final case class Round(round: Int, traced: Boolean, samples: Seq[Sample],
        drain: Double, jit: Double, gc: Double, steal: Double)
    val jitBean = ManagementFactory.getCompilationMXBean
    def jitSeconds(): Double = jitBean.getTotalCompilationTime / 1e3

    /** One query: the build call, then the `noop` write of its frame. */
    def runQuery(round: Int, name: String, parent: Int, traced: Boolean): Sample = {
      var error = ""
      val gc0 = gcSeconds()
      val t0 = System.nanoTime()
      var t1 = t0
      try {
        sc.setLocalProperty(tracer.PhaseKey, "build")
        val df = SparkEntry.queries(name)(spark, data)
        t1 = System.nanoTime()
        sc.setLocalProperty(tracer.PhaseKey, "serve")
        df.write.format("noop").mode("overwrite").save()
      } catch { case NonFatal(e) =>
        error = s"${e.getClass.getName}: ${e.getMessage}".take(300)
        if (t1 == t0) t1 = System.nanoTime()
      } finally sc.setLocalProperty(tracer.PhaseKey, null)
      val t2 = System.nanoTime()
      val gc = gcSeconds() - gc0
      val layers = if (!traced) Map.empty[String, Double] else {
        tracer.drain()
        val qSpan = spans.size
        spans += Span(qSpan, parent, "query", name, ms(t0), ms(t2))
        val files = filesWrittenSince(math.floor(ms(t0)).toLong)
        tracer.query(ms(t0), ms(t1), ms(t2), qSpan, spans, name) ++
          Map("output_files" -> files.toDouble)
      }
      Sample(round, name, (t1 - t0) / 1e9, (t2 - t1) / 1e9, gc, error.isEmpty, error, layers)
    }

    val runSpan = 0
    spans += Span(runSpan, -1, "run", "run", ms(nano0), 0)
    def round(r: Int, traced: Boolean): Round = {
      val jit0 = jitSeconds(); val gc0 = gcSeconds(); val cpu0 = cpuTicks()
      val rSpan = spans.size
      val rStart = System.nanoTime()
      spans += Span(rSpan, runSpan, "round", s"round$r", ms(rStart), 0)
      var drain = 0.0
      val out = order(r).map { q =>
        drain += cleanRoom(spark)
        runQuery(r, q, rSpan, traced)
      }
      spans(rSpan) = spans(rSpan).copy(end = ms(System.nanoTime()))
      Round(r, traced, out, drain, jitSeconds() - jit0, gcSeconds() - gc0, stealFrac(cpu0, cpuTicks()))
    }

    // untimed warm-up passes: timed rounds start past the knee of the
    // warm-up curve (warmup_curve.json, README.md)
    val warmRounds = (1 to warmup).map(i => round(-i, traced = false))
    val setupS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val jitSetupS = jitSeconds()

    // timed rounds: whole rounds until `seconds` have passed; in a traced
    // run the even rounds carry the listeners and the odd ones do not, so
    // the run measures its own tracing overhead
    val cpuTimed0 = cpuTicks()
    val timedStart = System.nanoTime()
    val rounds = mutable.ArrayBuffer.empty[Round]
    var r = 0
    while (r < minRounds || (System.nanoTime() - timedStart) / 1e9 < seconds) {
      val traced = trace && r % 2 == 0
      if (traced) tracer.attach()
      rounds += round(r, traced)
      if (traced) tracer.detach()
      r += 1
    }
    val timedS = (System.nanoTime() - timedStart) / 1e9
    val cpuTimed1 = cpuTicks()
    val loadEnd = os.getSystemLoadAverage
    spans(runSpan) = spans(runSpan).copy(end = ms(System.nanoTime()))

    // a short fixed Spark job: a host speed probe, comparable across runs
    def calibrate(): Double = {
      cleanRoom(spark)
      timed(spark.range(0L, 20000000L, 1, 2 * cores)
        .selectExpr("id % 997 AS k", "xxhash64(id) % 1000003 AS h")
        .groupBy("k").agg(sum("h")).write.format("noop").mode("overwrite").save())
    }
    calibrate()
    val calibS = median(Seq.fill(3)(calibrate()))

    // output check, outside every timed metric
    val fingerprints = names.sorted.map { q =>
      cleanRoom(spark)
      q -> (try { val (n, h) = Fingerprint.of(SparkEntry.queries(q)(spark, data))
        Map("rows" -> n, "hash" -> h) }
      catch { case NonFatal(e) => Map("error" -> s"${e.getClass.getName}: ${e.getMessage}".take(300)) })
    }.toMap
    cleanRoom(spark)

    val kernels = if (trace) Kernels.rates(spark, data) else Map.empty[String, Double]
    val heapPeakMb = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0
    val rt = ManagementFactory.getRuntimeMXBean

    def sampleJson(s: Sample): Map[String, Any] =
      Map("round" -> s.round, "query" -> s.query, "build_s" -> s.build, "serve_s" -> s.serve,
        "gc_s" -> s.gc, "ok" -> s.ok, "error" -> s.error, "layers" -> s.layers)
    def roundJson(r: Round): Map[String, Any] =
      Map("round" -> r.round, "traced" -> r.traced, "drain_s" -> r.drain, "jit_s" -> r.jit,
        "gc_s" -> r.gc, "steal_frac" -> r.steal, "samples" -> r.samples.map(sampleJson))
    val result = Map(
      "setup_s" -> setupS,
      "timed_s" -> timedS,
      "warmup" -> warmRounds.map(roundJson),
      "rounds" -> rounds.map(roundJson),
      "fingerprints" -> fingerprints,
      "peak_rss_mb" -> vmHwmMb(),
      "jvm" -> Map("jit_s" -> jitSetupS, "heap_peak_mb" -> heapPeakMb),
      "host" -> Map(
        "steal_frac" -> stealFrac(cpuTimed0, cpuTimed1),
        "load_avg" -> (loadStart + loadEnd) / 2, "calib_s" -> calibS),
      "kernels" -> kernels,
      "env" -> Map("cores" -> cores, "available_processors" -> Runtime.getRuntime.availableProcessors,
        "jvm_args" -> rt.getInputArguments.asScala.filter(a => a.startsWith("-X")).toSeq,
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
        "java" -> sys.props("java.version"), "spark" -> spark.version,
        "load_avg_start" -> loadStart, "load_avg_end" -> loadEnd),
      "spans" -> (if (trace) spans.map(s => Map("id" -> s.id, "parent" -> s.parent,
        "kind" -> s.kind, "name" -> s.name, "start_ms" -> s.start, "end_ms" -> s.end))
        else Nil))
    Files.writeString(Paths.get(opt("out")), Json(result))
    spark.stop()
  }
}

/** Order-independent fingerprint of a result: the row count and the sum,
  * modulo 2^128, of a SHA-256 prefix of each canonical row. A canonical
  * row lists the columns sorted by name; floating values are rounded to
  * nine significant digits, so summation order cannot change them. */
object Fingerprint {
  def of(df: DataFrame): (Long, String) = {
    val cols = df.columns.sorted
    val it = df.select(cols.map(c => col("`" + c.replace("`", "``") + "`")): _*)
      .toLocalIterator()
    val md = java.security.MessageDigest.getInstance("SHA-256")
    var n = 0L; var hi = 0L; var lo = 0L
    while (it.hasNext) {
      val d = java.nio.ByteBuffer.wrap(md.digest(canon(it.next()).getBytes("UTF-8")))
      val h = d.getLong(); val l = d.getLong()
      val sum = lo + l
      hi += h + (if (java.lang.Long.compareUnsigned(sum, lo) < 0) 1L else 0L)
      lo = sum; n += 1
    }
    (n, f"$hi%016x$lo%016x")
  }

  def canon(v: Any): String = v match {
    case null => "N"
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString("x", "", "")
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case s: String => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    case x => x.toString
  }

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d).round(new java.math.MathContext(9))
      .stripTrailingZeros.toString
}

/** A fixed pass over the `graft.functions` kernels on the benchmark's
  * embeddings and documents, as work per second (median of three after
  * one untimed pass). */
object Kernels {
  def rates(spark: SparkSession, data: String): Map[String, Double] = {
    val emb = spark.read.parquet(s"$data/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v")).cache()
    val docs = spark.read.parquet(s"$data/documents.parquet")
      .select(col("doc_id"), split(lower(col("text")), "\\s+").as("t")).cache()
    emb.count(); docs.count()
    def rate(work: Long)(run: => Unit): Double = {
      run
      val s = Seq.fill(3) { val t0 = System.nanoTime(); run; (System.nanoTime() - t0) / 1e9 }
      work / s.sorted.apply(1)
    }
    val left = emb.where(col("vec_id") % 10 === 0)
    val dotPairs = left.count() * emb.count()
    val vec = rate(dotPairs) {
      left.select(col("v").as("a")).crossJoin(emb.select(col("v").as("b")))
        .agg(sum(VectorExprs.vecDotD(col("a"), col("b")))).collect()
    }
    val mh = rate(docs.count()) {
      docs.agg(sum(hash(TextExprs.minhashSigs(col("t"), 64)))).collect()
    }
    val da = docs.where(col("doc_id") % 10 === 0).select(col("t").as("a"))
    val db = docs.where(col("doc_id") % 10 === 1).select(col("t").as("b"))
    val jac = rate(da.count() * db.count()) {
      da.crossJoin(db).agg(sum(TextExprs.jaccard(col("a"), col("b")))).collect()
    }
    emb.unpersist(); docs.unpersist()
    Map("vec_dot_pairs_per_s" -> vec, "minhash_docs_per_s" -> mh, "jaccard_pairs_per_s" -> jac)
  }
}

/** Minimal JSON writer for the runner's result file. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
  }
}
