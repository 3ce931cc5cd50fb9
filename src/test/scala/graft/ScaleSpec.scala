package graft

import org.apache.spark.sql.functions.{col, udf}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Scale

class ScaleSpec extends AnyFunSuite {
  import TestSpark._

  test("inParallel rethrows one failure and keeps every other failure " +
      "as a suppressed exception") {
    val e = intercept[IllegalStateException] {
      Scale.inParallel(
        () => throw new IllegalStateException("a"),
        () => throw new IllegalStateException("b"),
        () => ())
    }
    assert(e.getSuppressed.length == 1)
    assert(Set(e.getMessage, e.getSuppressed.head.getMessage) ==
      Set("a", "b"))
  }

  test("inParallel returns results in body order, not finishing order") {
    // body i waits for body i + 1 to finish, so they finish 2, 1, 0
    val done = Seq.fill(3)(new java.util.concurrent.CountDownLatch(1))
    val finished = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val results = Scale.inParallel((0 until 3).map { i => () =>
      if (i < 2) done(i + 1).await(30, java.util.concurrent.TimeUnit.SECONDS)
      finished.add(i)
      done(i).countDown()
      s"r$i"
    }: _*)
    assert(results == IndexedSeq("r0", "r1", "r2"))
    assert(finished.toArray.toSeq == Seq(2, 1, 0))
  }

  test("every wave body sees the caller's Spark local properties as " +
      "they are at the call") {
    val sc = spark.sparkContext
    val key = "graft.test.wave"
    def wave(): IndexedSeq[String] =
      Scale.inParallel((1 to 4).map(_ => () => sc.getLocalProperty(key)): _*)
    try {
      sc.setLocalProperty(key, "first")
      val first = wave()
      sc.setLocalProperty(key, "second")
      val second = wave()
      assert(first == IndexedSeq.fill(4)("first"))
      assert(second == IndexedSeq.fill(4)("second"))
    } finally sc.setLocalProperty(key, null)
  }

  test("partition audit answers counts from parquet footers, not a " +
      "data scan") {
    val plan = operators.Egress.q187PartitionAudit(spark, sf)
      .queryExecution.executedPlan.toString
    // the read-back aggregate is pushed into the V2 parquet scan:
    // COUNT(*) grouped by the partition column comes from file
    // metadata ("never rescans the fact data" made checkable)
    assert(plan.contains("PushedAggregation: [COUNT(*)]"), plan.take(3000))
    assert(plan.contains("PushedGroupBy: [o_month]"), plan.take(3000))
    // and no data column of the audited zone is ever read
    assert(plan.contains("ReadSchema: struct<o_month:date,count(*)"),
      plan.take(3000))
  }

  test("bucketed join plans a sort-merge join with no exchange") {
    val plan = Scale.q45BucketedJoin(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), plan.take(3000))
    // the join inputs come straight from bucketed scans: the only
    // exchanges allowed are AFTER aggregation (for the final sort)
    val joinPart = plan.substring(plan.indexOf("SortMergeJoin"))
    assert(!joinPart.contains("Exchange"), joinPart.take(3000))
  }

  test("partition-pruned scan pushes the year predicate to listing") {
    val plan = Scale.q46PartitionPruning(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), plan.take(3000))
    assert(plan.contains("o_year"), plan.take(3000))
  }

  test("salted aggregation matches the direct group-by") {
    val direct = Tables.orders(spark, sf)
      .groupBy("o_orderpriority").count()
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val salted = Scale.q47SaltedAgg(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(salted == direct)
  }

  test("salted aggregation fans the first exchange out over salt keys") {
    val plan = Scale.q47SaltedAgg(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("salt"), plan.take(3000))
  }

  test("salted join shuffles on (key, salt), not key alone") {
    val df = Scale.q80SaltedJoin(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ShuffledHashJoin"), plan.take(3000))
    // the join-side exchanges must carry both the key and the salt
    assert("hashpartitioning\\(c_custkey[^)]*salt".r
      .findFirstIn(plan).isDefined, plan.take(3000))
    // and salting must not change the result
    val direct = Tables.orders(spark, sf)
      .join(Tables.customer(spark, sf),
        org.apache.spark.sql.functions.col("o_custkey") ===
          org.apache.spark.sql.functions.col("c_custkey"))
      .groupBy("c_mktsegment").count()
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val salted = df.collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(salted == direct)
  }

  test("bucketed scan prunes to one bucket for an equality predicate") {
    import org.apache.spark.sql.functions.col
    Scale.q45BucketedJoin(spark, sf).collect() // materialize tables
    // without a distribution requirement the planner would silently
    // fall back to a plain scan — pin bucketed reading on so the
    // equality predicate prunes to its one bucket
    val key = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    val old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try {
      val plan = spark.table("graft_lineitem_bkt")
        .filter(col("l_orderkey") === 1L)
        .queryExecution.executedPlan.toString
      assert(plan.contains("SelectedBucketsCount: 1 out of 8"),
        plan.take(2000))
    } finally spark.conf.set(key, old)
  }

  test("runtime bloom filter is injected on the fact side of a " +
      "selective join") {
    import org.apache.spark.sql.functions.col
    // thresholds sized for production (app side ≥ 10 GB) — drop them
    // so the tiny test tables qualify and the rewrite is observable
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold"
        -> "100MB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
        -> "0",
      // bloom injection targets shuffle joins (a broadcast join
      // already prunes at the hash probe) — force SMJ at test scale
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val olds = confs.map { case (k, _) => k -> spark.conf.get(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val dim = Tables.orders(spark, sf)
        .filter(col("o_totalprice") > 500000)
        .select("o_orderkey")
      val fact = Tables.lineitem(spark, sf)
        .select("l_orderkey", "l_quantity")
      val plan = fact.join(dim, col("l_orderkey") === col("o_orderkey"))
        .queryExecution.optimizedPlan.toString
      assert(plan.contains("bloom_filter"), plan.take(3000))
    } finally olds.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("ANALYZE TABLE feeds row counts into the optimizer's statistics") {
    Scale.q45BucketedJoin(spark, sf).collect() // materialize a table
    spark.sql("ANALYZE TABLE graft_orders_bkt COMPUTE STATISTICS")
    // row counts surface in plan stats only under CBO
    val key = "spark.sql.cbo.enabled"
    val old = spark.conf.get(key)
    spark.conf.set(key, "true")
    try {
      val stats = spark.table("graft_orders_bkt")
        .queryExecution.optimizedPlan.stats
      val actual = spark.table("graft_orders_bkt").count()
      // CBO decisions (broadcast choice, join order) key off these
      assert(stats.rowCount.contains(BigInt(actual)), stats.toString)
    } finally spark.conf.set(key, old)
  }

  test("global index matches single-sequence row_number without a " +
      "single-partition sort") {
    import org.apache.spark.sql.functions._
    val df = Scale.q85GlobalIndex(spark, sf)
    // two-phase plan: range repartition feeds the sort — nothing may
    // collapse to one partition
    val plan = Tables.orders(spark, sf)
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .repartitionByRange(4, col("o_totalprice").desc, col("o_orderkey"))
      .sortWithinPartitions(col("o_totalprice").desc, col("o_orderkey"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("rangepartitioning"), plan.take(3000))
    assert(!plan.contains("SinglePartition"), plan.take(3000))
    val got = df.select("o_orderkey", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    val want = Tables.orders(spark, sf)
      .select(col("o_orderkey"),
        row_number().over(w).cast("long").as("rank"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == want)
  }

  test("dpp join prunes fact partitions at runtime through the dim " +
      "filter") {
    val df = Scale.q233DppJoin(spark, sf)
    df.collect() // partitions-read is a runtime fact — materialize first
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val finalPlan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val planStr = finalPlan.toString
    // the fact scan's PartitionFilters must carry the runtime subquery
    assert(planStr.toLowerCase.contains("dynamicpruningexpression"),
      planStr.take(3000))
    // AQE query stages are leaf nodes whose executed subtree lives in
    // `plan` — descend explicitly, plain collect() never reaches scans
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case q: QueryStageExec => scans(q.plan)
      case f: FileSourceScanExec => Seq(f)
      case o => o.children.flatMap(scans)
    }
    val factScans = scans(finalPlan).filter(_.partitionFilters.exists(
      _.toString.toLowerCase.contains("dynamicpruning")))
    assert(factScans.nonEmpty, planStr.take(3000))
    // era = 'modern' selects 1999-2001: 3 of the 7 year partitions
    // are read; the other 4 are never listed into the scan
    assert(factScans.head.metrics("numPartitions").value == 3,
      factScans.head.metrics.mkString("\n"))
  }

  test("cartesian guard blocks big-big unconditioned joins, allows " +
      "small-side cross joins and conditioned joins") {
    val guard = graft.plans.CartesianGuard(spark)
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val old = spark.conf.get(key)
    try {
      // lineitem (~115 KB) and orders (~35 KB) both exceed 16 KB
      spark.conf.set(key, (16 * 1024).toString)
      val li = Tables.lineitem(spark, sf)
      val big = li.crossJoin(Tables.orders(spark, sf))
      val e = intercept[IllegalStateException] {
        guard(big.queryExecution.analyzed)
      }
      assert(e.getMessage.contains("cartesian"))
      // nation (~3 KB) is under the threshold: a legitimate
      // broadcast-nested-loop cross join passes the guard
      guard(Tables.nation(spark, sf).crossJoin(li)
        .queryExecution.analyzed)
      // a big-big join WITH a condition is the normal shuffled case
      guard(li.join(Tables.orders(spark, sf),
          col("l_orderkey") === col("o_orderkey"))
        .queryExecution.analyzed)
      // comma-join / crossJoin+filter: at analysis time the predicate
      // is still a Filter ABOVE a bare Join (pushdown hasn't run) —
      // the guard must recognize it as conditioned, not reject it
      Tables.registerViews(spark, sf)
      guard(spark.sql(
        "SELECT * FROM lineitem l, orders o WHERE l.l_orderkey = o.o_orderkey")
        .queryExecution.analyzed)
      guard(li.crossJoin(Tables.orders(spark, sf))
        .filter(col("l_orderkey") === col("o_orderkey"))
        .queryExecution.analyzed)
    } finally spark.conf.set(key, old)
  }

  test("z-order files bound both dimensions to a fraction of the " +
      "global range") {
    val stats = operators.Scale.q131ZorderLayout(spark, sf).collect()
    // only full files: the final partial file may legitimately span a
    // wide residual range
    val full = stats.filter(_.getLong(1) == 64L)
    assert(full.nonEmpty)
    val avgSizeSpan = full.map(r => r.getInt(3) - r.getInt(2)).sum
      .toDouble / full.length
    val avgPriceSpan = full.map(r => r.getInt(5) - r.getInt(4)).sum
      .toDouble / full.length
    // global ranges: size 1..50 (span 49), price bucket 0..49 (span 49).
    // A Morton sort over 64-row files must bound BOTH dims well below
    // the global span — a 1-D sort would leave one dim near-global.
    assert(avgSizeSpan < 25, s"avg size span $avgSizeSpan")
    assert(avgPriceSpan < 25, s"avg price-bucket span $avgPriceSpan")
  }

  test("bloom prefilter keeps the true matches and strips most " +
      "non-matching fact rows before the join") {
    val dim = Tables.supplier(spark, sf)
      .filter(col("s_nationkey") < 5).select("s_suppkey")
    val bf = dim.stat.bloomFilter("s_suppkey", 1 << 16, 0.01)
    val fact = Tables.lineitem(spark, sf).select("l_suppkey")
    val total = fact.count()
    val mightContain = udf((k: Long) => bf.mightContain(k))
    val kept = fact.filter(mightContain(col("l_suppkey"))).count()
    val trueMatches = fact.join(dim,
      col("l_suppkey") === col("s_suppkey"), "left_semi").count()
    assert(kept >= trueMatches) // no false negatives, ever
    // ~20% of suppliers pass the nationkey filter; with fpp=1% the
    // kept set must stay close to the true match count
    assert(kept <= trueMatches + math.max(10, (total * 0.02).toLong),
      s"kept=$kept true=$trueMatches total=$total")
  }

  test("self-referencing CTE reuses the aggregation exchange") {
    val df = Scale.q182ReusedExchange(spark, sf)
    df.collect() // AQE finalizes reuse at execution time
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ReusedExchange") ||
      plan.contains("ReusedQueryStage"), plan.take(4000))
  }

  test("decontamination never broadcasts the corpus-proportional eval " +
      "gram side") {
    // the eval side of q113 is 10% of the corpus' distinct 8-grams —
    // corpus-proportional, so a broadcast would OOM at 100 TB. With
    // the threshold below its size the planner must pick a shuffle
    // join; a reintroduced broadcast() hint would override the
    // threshold and fail here.
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val old = spark.conf.get(key)
    spark.conf.set(key, "1024")
    try {
      val plan = operators.Dedup.q113Decontamination(spark, sf)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastHashJoin"), plan.take(3000))
    } finally spark.conf.set(key, old)
  }

  test("cluster-representative ranking and summary share one label " +
      "exchange") {
    // q215's stated plan contract: the groupBy(label) after the
    // row_number window reuses the window's hashpartitioning(label) —
    // rank-then-summarize costs ONE exchange of (id, label, n_tokens),
    // not two. If a plan change re-shuffles between Window and the
    // aggregates, an Exchange appears between them and this fails.
    val plan = operators.Dedup.q215ClusterRepresentatives(spark, sf)
      .queryExecution.executedPlan.toString
    val window = plan.indexOf("Window")
    assert(window >= 0, plan.take(3000))
    val above = plan.substring(0, window)
    // above the window (downstream of it in execution): only the
    // final-sort range exchange is allowed, never a hash repartition
    assert(!above.contains("Exchange hashpartitioning"), above.take(3000))
  }

  test("contamination-span islands aggregate without re-shuffling " +
      "the per-doc hits") {
    // q216: groupBy(doc_id, island) runs on the window's
    // hashpartitioning(doc_id) — clustering on a superset of keys is
    // satisfied by the subset partitioning, so the island merge adds
    // no exchange after the window
    val plan = operators.Dedup.q216ContaminationSpans(spark, sf)
      .queryExecution.executedPlan.toString
    val window = plan.indexOf("Window")
    assert(window >= 0, plan.take(3000))
    assert(!plan.substring(0, window).contains("Exchange hashpartitioning"),
      plan.take(3000))
  }

  test("AQE detects and splits a skewed join partition at runtime") {
    import org.apache.spark.sql.functions._
    // the adaptive twin of the MANUAL salting queries q47/q80: no
    // query rewrite at all — AQE measures the finished shuffle stage,
    // sees one partition far over factor×median and the byte
    // threshold, and splits it into advisory-sized reads (skew=true
    // on the join). First line of defense at 100 TB; salting remains
    // the escape hatch AQE can't reach (e.g. skewed aggregations).
    val confs = Seq(
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes"
        -> "65536",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "32768",
      "spark.sql.adaptive.forceOptimizeSkewedJoin" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val olds = confs.map { case (k, _) => k -> spark.conf.get(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // hot key 0: 50k wide rows → one ~4 MB hash partition; 50 cold
      // keys with ~100 thin rows each keep the median tiny
      val left = spark.range(50000)
        .select(lit(0L).as("k"),
          rpad(col("id").cast("string"), 64, "p").as("pad"))
        .union(spark.range(5000)
          .select((col("id") % 50 + 1).as("k"), lit("small").as("pad")))
      val right = spark.range(51).select(col("id").as("k"),
        lit("dim").as("v"))
      val joined = left.join(right, "k")
      assert(joined.count() == 55000)
      joined.collect() // finalize the adaptive plan
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"), plan.take(4000))
    } finally olds.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("join hints force broadcast and shuffled-hash strategies") {
    val plan = Scale.q183JoinHints(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(4000))
    assert(plan.contains("ShuffledHashJoin"), plan.take(4000))
    assert(!plan.contains("SortMergeJoin"), plan.take(4000))
  }

  test("budget selection puts unpartitioned windows only above " +
      "aggregates, never on corpus rows") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate,
      Window => LWindow}
    val df = operators.Sampling.q225BudgetSelection(spark, sf)
    // the q225 contract: the global prefix-sum runs on the BLOCK
    // table (post-aggregate, n_docs/128 rows), and the corpus-sized
    // window is partitioned by (tier, block). An unpartitioned window
    // whose subtree has no Aggregate would be the single-task global
    // sort this decomposition exists to avoid.
    val unpart = df.queryExecution.optimizedPlan.collect {
      case w: LWindow if w.partitionSpec.isEmpty => w
    }
    assert(unpart.nonEmpty, "expected the block-offset global window")
    unpart.foreach { w =>
      assert(w.child.collectFirst { case a: Aggregate => a }.nonEmpty,
        s"unpartitioned window directly over corpus rows:\n$w")
    }
    // result invariants: kept never exceeds totals, and the kept
    // prefix fits the declared half-corpus budget
    val rows = df.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_kept") <= r.getAs[Long]("n_docs"))
      assert(r.getAs[Long]("tokens_kept") <= r.getAs[Long]("tokens_total"))
    }
    val total = rows.map(_.getAs[Long]("tokens_total")).sum
    val kept = rows.map(_.getAs[Long]("tokens_kept")).sum
    assert(kept > 0 && kept <= total / 2, s"kept=$kept total=$total")
    // tier 0 (high quality) is first in the global order; with a
    // half-corpus budget it must be kept in full on this data
    val high = rows.find(_.getAs[Int]("tier") == 0)
    high.foreach(r =>
      assert(r.getAs[Long]("n_kept") == r.getAs[Long]("n_docs") ||
        r.getAs[Long]("tokens_total") > total / 2))
  }

  test("cluster downweighting never shuffles the corpus on a " +
      "per-row key") {
    // q229's scale contract: only the pair-bounded labeled slice pays
    // a groupBy(label) exchange; singletons reduce map-side into one
    // global aggregate. A coalesce(label, doc_id) grouping — the
    // naive formulation — would hash-exchange the whole corpus on a
    // unique-per-row key and show up here.
    val plan = operators.Dedup.q229ClusterDownweight(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("hashpartitioning(doc_id"), plan.take(3000))
    assert(!plan.contains("hashpartitioning(coalesce"), plan.take(3000))
  }

  test("k-means never shuffles the corpus on a per-row key: the only " +
      "exchanges carry the k x dim mean grid or the k-row report") {
    val plan = operators.Similarity.q248KmeansAssign(spark, sf)
      .queryExecution.executedPlan.toString
    // assignment is a broadcast-literal narrow map — a per-row
    // vec_id exchange would mean the centers were joined, not inlined
    assert(!plan.contains("hashpartitioning(vec_id"), plan.take(3000))
    assert(!plan.contains("Join"), plan.take(3000))
    // every remaining exchange keys on cluster id (k=8 groups)
    val exchanges = "hashpartitioning\\((\\w+)".r
      .findAllMatchIn(plan).map(_.group(1)).toSet
    assert(exchanges.subsetOf(Set("cid")), s"exchange keys: $exchanges")
  }
}
