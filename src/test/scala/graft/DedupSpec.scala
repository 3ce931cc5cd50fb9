package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.col

import graft.functions.Cols
import graft.operators.Dedup

class DedupSpec extends AnyFunSuite {
  import TestSpark._

  test("fingerprint is md5 of lower/collapse-ws/trim canonical text") {
    import spark.implicits._
    val got = Seq("  Hello   WORLD ").toDF("t")
      .select(Cols.fingerprint(col("t"))).as[String].head()
    // md5("hello world")
    assert(got == "5eb63bbbe01eeed093cb22bb8f5acdc3")
  }

  test("exact dedup groups case/whitespace variants of the same content") {
    import spark.implicits._
    val docs = Seq(
      (1L, "The quick brown fox"),
      (2L, "  the  QUICK brown fox "), // same canonical content as 1
      (3L, "an entirely different document")).toDF("doc_id", "text")
    val out = docs.groupBy(Cols.fingerprint(col("text")).as("fp"))
      .agg(org.apache.spark.sql.functions.min(col("doc_id")).as("keep_id"),
        org.apache.spark.sql.functions.count(col("doc_id")).as("n"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(out == Set((1L, 2L), (3L, 1L)))
  }

  test("minhash finds near-identical docs, not unrelated ones") {
    import spark.implicits._
    // appending one word keeps shingle Jaccard at 39/40 = 0.975, so the
    // 4-row band collision probability is 1-(1-0.975^4)^4 ≈ 0.9999
    val base = (1 to 40).map(i => s"word$i").mkString(" ")
    val nearDup = base + " extraword"
    val unrelated = (100 to 140).map(i => s"other$i").mkString(" ")
    val docs = Seq((1L, base), (2L, nearDup), (3L, unrelated))
      .toDF("doc_id", "text")
    val pairs = Dedup.minhashPairs(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("q25 computes the MinHash signatures once: one band exchange, " +
      "the other self-join side reuses it") {
    import org.apache.spark.sql.execution.{ProjectExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    val df = Dedup.q25DedupMinhash(spark, sf)
    df.collect()
    val finalPlan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    // every node of the final plan, descending into query stages but
    // not into a reused exchange's original
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case s: QueryStageExec => nodes(s.plan)
      case _ => p.children.flatMap(nodes)
    })
    def signs(p: SparkPlan): Boolean = p.expressions.exists(_.exists(
      _.isInstanceOf[graft.functions.MinHashMd5Sigs]))
    val all = nodes(finalPlan)
    val signing = all.filter(signs)
    assert(signing.size == 1 && signing.head.isInstanceOf[ProjectExec],
      finalPlan.treeString)
    val reused = all.collect { case r: ReusedExchangeExec => r }
    assert(reused.exists(r => nodes(r.child).exists(signs)),
      finalPlan.treeString)
  }

  test("simhash near-dup pairs have hamming <= 3 and include true dups") {
    import spark.implicits._
    val base = (1 to 60).map(i => s"word$i").mkString(" ")
    val nearDup = (1 to 60).map(i => if (i == 9) "CHANGED" else s"word$i")
      .mkString(" ")
    val unrelated = (200 to 260).map(i => s"other$i").mkString(" ")
    val docs = Seq((1L, base), (2L, nearDup), (3L, unrelated))
      .toDF("doc_id", "text")
    val rows = Dedup.simhashPairs(docs).collect()
    assert(rows.forall(_.getInt(2) <= 3))
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).contains((1L, 2L)))
  }

  test("dedup catalog queries return rows on testdata") {
    assert(operators.Dedup.q24DedupExact(spark, sf).count() == 500)
    assert(operators.Dedup.q25DedupMinhash(spark, sf).count() > 0)
  }

  test("connected components labels chains and keeps components apart") {
    import spark.implicits._
    // component A: 1-2-3-4 chain (diameter 3 forces >1 propagation
    // round); component B: 10-11; node 20-20 self-edge stays alone
    val edges = Seq((2L, 1L), (2L, 3L), (3L, 4L), (10L, 11L), (20L, 20L))
      .toDF("src", "dst")
    val labels = Dedup.connectedComponents(edges)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L))
  }

  test("star contraction: 1024-node chain converges in O(log n) rounds " +
      "with the component-min labels") {
    import spark.implicits._
    // a path graph is the adversarial case for min-label propagation
    // (rounds = diameter = 1023); ids are permuted (i*337 mod 1025,
    // coprime) so the component min sits mid-chain, not at an endpoint
    val ids = (0 until 1025).map(i => (i * 337 % 1025).toLong)
    val edges = ids.zip(ids.tail).toDF("src", "dst")
    val (labels, rounds) = Dedup.ccStarWithRounds(edges)
    assert(rounds <= 20, s"expected O(log 1024) ~ 10 rounds, got $rounds")
    val got = labels.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length == 1025)
    assert(got.forall(_._2 == 0L), "single path component labeled by min")
  }

  test("hybrid hand-off: long chain exceeds the min-label budget and " +
      "returns the same labels the propagation would") {
    import spark.implicits._
    // diameter 40 > MinLabelMaxRounds forces the star hand-off; a
    // second small component and a self-loop-only node pin the parity
    // corners (roots, singletons) across the two algorithms
    val chain = (100L to 140L).sliding(2).map(s => (s(0), s(1))).toSeq
    val edges = (chain ++ Seq((7L, 9L), (50L, 50L))).toDF("src", "dst")
    val labels = Dedup.connectedComponents(edges)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val expected = (100L to 140L).map(_ -> 100L).toMap ++
      Map(7L -> 7L, 9L -> 7L, 50L -> 50L)
    assert(labels == expected)
  }

  test("persisted-index dedup reads the old side from the bucketed " +
      "catalog table and matches the recompute-everything pairing") {
    val df = operators.Dedup.q211PersistedIndexDedup(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    // the old corpus arrives as a bucketed scan of the standing index
    // table — no re-shingle, no re-hash, no re-band of history
    assert(plan.contains("graft_band_index"), plan.take(3000))
    assert(plan.contains("Bucketed: true"), plan.take(3000))
    assert(plan.contains("SelectedBucketsCount: 8 out of 8"), plan.take(3000))
    // no minhash sketching anywhere in the pairing plan: the index was
    // built by "yesterday's" write job; today's plan only joins it
    assert(!plan.contains("minhash_md5_sigs"), plan.take(3000))
    // and the index side of its join is never shuffled: between the
    // join and the index FileScan there is no hash exchange (the tiny
    // new side broadcasts / shuffles INTO the index layout, not vice
    // versa)
    val seg = plan.substring(
      plan.lastIndexOf("Join", plan.indexOf("graft_band_index")),
      plan.indexOf("graft_band_index"))
    assert(!seg.contains("Exchange hashpartitioning"), seg)
    // behavioral parity: identical pair set to q206's full recompute
    val viaIndex = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getString(3)))
      .toSet
    val recompute = operators.Dedup.q206IncrementalDedup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getString(3)))
      .toSet
    assert(viaIndex == recompute)
  }

  test("appended band index probes exchange-free and matches a " +
      "from-scratch rebuild") {
    val df = operators.Dedup.q238IndexAppendMaintenance(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    // probe side: bucketed scan of the appended table, no re-banding
    // of history, no hash exchange between the join and the index scan
    assert(plan.contains("graft_band_index_app"), plan.take(3000))
    assert(plan.contains("Bucketed: true"), plan.take(3000))
    val seg = plan.substring(
      plan.lastIndexOf("Join", plan.indexOf("graft_band_index_app")),
      plan.indexOf("graft_band_index_app"))
    assert(!seg.contains("Exchange hashpartitioning"), seg)
    val got = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getString(3)))
      .toSet
    // the appended table holds base + day-1 bands: band-count identity
    // vs computing them fresh proves the append landed, not a rewrite
    import org.apache.spark.sql.functions.col
    val docs = operators.Dedup.shingled(Tables.documents(spark, sf))
    val wantIndexRows = operators.Dedup
      .bandTable(docs.filter(col("doc_id") % 10 =!= 8)).count()
    assert(spark.table("graft_band_index_app").count() == wantIndexRows)
    // from-scratch rebuild semantics: banded candidates of the day-2
    // batch against everything else, straight from the recipes
    val bands = operators.Dedup.bandTable(docs)
    val cand = bands.as("n")
      .join(bands.as("o"),
        col("n.band") === col("o.band") &&
          col("n.band_key") === col("o.band_key") &&
          col("n.doc_id") =!= col("o.doc_id"))
      .filter(col("n.doc_id") % 10 === 8)
      .select(
        org.apache.spark.sql.functions
          .least(col("n.doc_id"), col("o.doc_id")).as("doc_a"),
        org.apache.spark.sql.functions
          .greatest(col("n.doc_id"), col("o.doc_id")).as("doc_b"))
      .distinct()
    val want = cand
      .join(docs.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")),
        "doc_a")
      .join(docs.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")),
        "doc_b")
      .select(col("doc_a"), col("doc_b"),
        graft.functions.TextExprs.jaccard(col("sh_a"), col("sh_b"))
          .as("j"))
      .filter(col("j") >= 0.8)
      .collect().map { r =>
        val t = if (r.getLong(0) % 10 == 8 && r.getLong(1) % 10 == 8)
          "new_new" else "new_old"
        (r.getLong(0), r.getLong(1),
          BigDecimal(r.getDouble(2)).setScale(9,
            BigDecimal.RoundingMode.HALF_UP).toDouble, t)
      }.toSet
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("index compaction lays one file per bucket and the probe " +
      "still matches the rebuild") {
    val df = operators.Dedup.q241IndexCompaction(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    // the probe reads the COMPACTED version as a bucketed scan with no
    // hash exchange between the join and the index scan
    assert(plan.contains("graft_band_index_cptd"), plan.take(3000))
    assert(plan.contains("Bucketed: true"), plan.take(3000))
    val seg = plan.substring(
      plan.lastIndexOf("Join", plan.indexOf("graft_band_index_cptd")),
      plan.indexOf("graft_band_index_cptd"))
    assert(!seg.contains("Exchange hashpartitioning"), seg)
    val got = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getString(3)))
      .toSet
    // compaction is invisible in the result: same pairs as the
    // appended-index probe (whose oracle is the from-scratch rebuild)
    val viaAppend = operators.Dedup.q238IndexAppendMaintenance(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getString(3)))
      .toSet
    assert(got == viaAppend)
    // the point of compacting: exactly numBuckets data files remain
    // (the appended table carries more — several files per bucket)
    def dataFiles(table: String): Int = {
      val wh = new java.net.URI(
        spark.conf.get("spark.sql.warehouse.dir")).getPath
      val d = new java.io.File(wh, table)
      Option(d.listFiles()).map(_.count(f =>
        f.getName.endsWith(".parquet"))).getOrElse(0)
    }
    assert(dataFiles("graft_band_index_cptd") == 8,
      s"compacted: ${dataFiles("graft_band_index_cptd")} files")
    assert(dataFiles("graft_band_index_cpt") > 8,
      s"appended: ${dataFiles("graft_band_index_cpt")} files")
  }

  test("incremental cc equals the full-corpus recompute") {
    val inc = operators.Dedup.q242IncrementalCC(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val full = operators.Dedup.q69DedupClusters(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(inc == full)
    assert(inc.nonEmpty)
  }

  test("round report composes without rescanning the corpus and each " +
      "section equals its standalone query") {
    val df = operators.Dedup.q240RoundReport(spark, sf)
    // composition discipline: the returned plan consumes ONLY staged
    // inputs (checkpointed tokenization/labels, driver-local attrition)
    // — the corpus parquet is never re-read per section
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("documents.parquet"), plan.take(3000))
    val rows = df.collect()
    val bySection = rows.groupBy(_.getString(0))
    assert(bySection.keySet == Set("attrition", "shard", "downweight"))
    val attr = operators.Dedup.q209CurationPipeline(spark, sf).collect()
      .map(r => r.getInt(0).toLong ->
        (r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(bySection("attrition").map(r => r.getLong(1) ->
      (r.getString(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
      == attr)
    val shard = operators.Sampling.q228ShardManifest(spark, sf).collect()
      .map(r => r.getInt(0).toLong -> (r.getLong(1), r.getLong(2))).toMap
    assert(bySection("shard").map(r => r.getLong(1) ->
      (r.getLong(3), r.getLong(4))).toMap == shard)
    val dw = operators.Dedup.q229ClusterDownweight(spark, sf).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(bySection("downweight").map(r => r.getLong(1) ->
      (r.getLong(3), r.getLong(4), r.getLong(5))).toMap == dw)
  }

  test("delete-2 fuzzy join equals the all-pairs answer with bounded " +
      "block populations") {
    import org.apache.spark.sql.functions._
    val got = operators.Quality.q239FuzzyJoinD2(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val c = Tables.customer(spark, sf)
      .filter(col("c_custkey") % 7 === 3) // q239's qualification slice
      .select(col("c_custkey").as("id"), col("c_name").as("name"))
    val nNames = c.count()
    val want = c.as("a").join(c.as("b"), col("a.id") < col("b.id"))
      .select(col("a.id").as("ia"), col("b.id").as("ib"),
        levenshtein(col("a.name"), col("b.name")).as("d"))
      .filter(col("d") <= 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // recall-COMPLETE by construction: the blocked result IS the
    // all-pairs result, not an approximation of it
    assert(got == want)
    assert(got.nonEmpty)
    // pathology probe: the PLAIN (unqualified) key family's fat block
    // must exist on this fixture (114 of 150 here) — it is what makes
    // the positional escalation load-bearing; a fixture change that
    // removes it should resurface here
    val blocked = c.select(col("id"),
      explode(expr(operators.Quality.delete2VariantsSql)).as("k"))
    val maxBlock = blocked
      .groupBy(col("k")).count()
      .agg(max(col("count"))).collect()(0).getLong(0)
    assert(maxBlock > nNames / 2, // the fixture IS the pathology
      s"max block $maxBlock of $nNames names")
    // the POSITIONAL family q239 actually joins on: every block is
    // capped by the alphabet bound (names agreeing everywhere but the
    // qualified positions), NOT by a corpus fraction...
    val posBlocked = c.select(col("id"),
      explode(expr(operators.Quality.delete2PosVariantsSql)).as("kv"))
    val maxPosBlock = posBlocked
      .groupBy(col("kv.i"), col("kv.j"), col("kv.v")).count()
      .agg(max(col("count"))).collect()(0).getLong(0)
    assert(maxPosBlock <= 100, // |alphabet|^2 with digit alphabets
      s"positional max block $maxPosBlock of $nNames names")
    // ...and the DISTINCT candidate pair volume the five-class union
    // feeds the verify stays within 2x the result — verify work
    // proportional to output, not to n²
    val candidates = operators.Quality.fuzzyCandidatesD2(c).count()
    assert(candidates <= 2L * got.size,
      s"$candidates candidates for ${got.size} results")
  }

  test("the production xxhash SimHash tier tracks the oracled md5 " +
      "tier: q297's measured recall transfers to q26") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sf)
    val xx = Dedup.simhashPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val md5 = Dedup.simhashMd5Pairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(xx.nonEmpty && md5.nonEmpty)
    // the two sketches differ only in the per-token hash; on the same
    // corpus their hamming<=3 pair sets must largely agree or q297's
    // hash-verified recall says nothing about the xxhash tier users
    // actually run (measured 0.667 pair-set Jaccard at sf0.001 —
    // borderline hamming-4 pairs flip with the hash; 0.45 fails if a
    // regression halves the agreement)
    val j = (xx & md5).size.toDouble / (xx | md5).size
    info(f"xxhash-vs-md5 pair-set Jaccard = $j%.3f " +
      s"(|xx|=${xx.size}, |md5|=${md5.size})")
    assert(j >= 0.45, f"pair-set Jaccard $j%.3f")
    // and the tiers' recall against the exact J>=0.8 relation must
    // agree within 10 points in aggregate
    val exact = Dedup.q289PrefixJaccardJoin(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val rXx = (exact & xx).size.toDouble / exact.size
    val rMd5 = (exact & md5).size.toDouble / exact.size
    info(f"recall vs exact: xxhash $rXx%.3f, md5 $rMd5%.3f")
    assert(math.abs(rXx - rMd5) <= 0.10,
      f"tier recalls diverge: xxhash $rXx%.3f vs md5 $rMd5%.3f")
  }

  test("ngram jaccard inverted index finds the near-dup pairs") {
    val out = operators.Dedup.q68NgramJaccard(spark, sf).collect()
    assert(out.nonEmpty)
    assert(out.forall(_.getDouble(2) >= 0.6))
    // the tiers overlap where pairs share rare shingles; pairs inside
    // dup clusters larger than the df cap are MinHash-only by design
    // (see q68's recall contract), so assert overlap, not containment
    val loose = out.map(r => (r.getLong(0), r.getLong(1))).toSet
    val minhash = operators.Dedup.q25DedupMinhash(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((minhash intersect loose).nonEmpty)
  }

  test("graph consumers build edges from the unordered pair core — " +
      "no global sort below the iteration joins") {
    val plan = Dedup.minhashPairs(Tables.documents(spark, sf))
      .queryExecution.executedPlan.toString
    // q25's display orderBy is a range exchange; the BFS/CC/PageRank
    // loops must never inherit it (Dedup.scala contract at minhashPairs)
    assert(!plan.contains("rangepartitioning"), plan.take(3000))
  }

  test("triangle counts credit each corner once and pendants zero") {
    import spark.implicits._
    // triangle 1-2-3 plus pendant edge 3-4 and isolated edge 10-11
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("doc_a", "doc_b")
    val got = Dedup.triangleCounts(edges).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == Map(
      1L -> (2L, 1L), 2L -> (2L, 1L), 3L -> (3L, 1L),
      4L -> (1L, 0L), 10L -> (1L, 0L), 11L -> (1L, 0L)))
  }

  test("degree-ordered triangle orientation is count-identical on a " +
      "hub graph and on the testdata near-dup graph") {
    import spark.implicits._
    // hub 1 with 10 spokes where id order and degree order DISAGREE
    // (the hub has the smallest id, so id-orientation points all its
    // edges outward while degree-orientation points them inward);
    // closing edges 2-3, 4-5 make two hub triangles, plus a separate
    // triangle and a pendant to cover zero-count corners
    val hub = (2L to 11L).map(s => (1L, s))
    val edges = (hub ++ Seq((2L, 3L), (4L, 5L), (20L, 21L), (21L, 22L),
      (20L, 22L), (30L, 31L))).toDF("doc_a", "doc_b")
    def asMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val byId = asMap(Dedup.triangleCounts(edges))
    val byDeg = asMap(Dedup.triangleCountsDegreeOrdered(edges))
    assert(byDeg == byId)
    // spot-pin ground truth so a shared bug can't hide in the equality
    assert(byDeg(1L) == (10L, 2L), "hub: degree 10, two triangles")
    assert(byDeg(20L) == (2L, 1L) && byDeg(30L) == (1L, 0L))
    // and the real graph: same per-node counts from both orientations
    val pairs = Dedup.minhashPairs(Tables.documents(spark, sf))
      .select(org.apache.spark.sql.functions.col("doc_a"),
        org.apache.spark.sql.functions.col("doc_b"))
    assert(asMap(Dedup.triangleCountsDegreeOrdered(pairs))
      == asMap(Dedup.triangleCounts(pairs)))
  }

  test("pagerank conserves total rank mass up to integer truncation") {
    val rows = operators.Dedup.q150PageRank(spark, sf).collect()
    assert(rows.nonEmpty)
    // every rank >= the undamped base, and (over the top-50 window)
    // no rank exceeds total mass; with symmetric edges and no
    // dangling nodes the damped fixpoint keeps per-node units within
    // [0.15, n] * 1e12 — a structural sanity bound, exactness is the
    // oracle's job
    val unit = 1000000000000L
    rows.foreach { r =>
      val u = r.getLong(1)
      assert(u >= 150000000000L && u < unit * rows.length.toLong,
        s"doc ${r.getLong(0)} units $u")
    }
  }

  test("cluster representatives follow quality, not id order") {
    val reps = operators.Dedup.q215ClusterRepresentatives(spark, sf)
      .collect()
    assert(reps.nonEmpty)
    reps.foreach { r =>
      assert(r.getLong(r.fieldIndex("n_members")) >= 2) // clusters only
      // the representative must at least match the cluster-label doc,
      // which is always a member (label = min id by construction)
      assert(r.getLong(r.fieldIndex("rep_doc"))
        >= r.getLong(r.fieldIndex("cluster")))
    }
    // the policy must actually differ from q141's keep-min-id on this
    // corpus: at least one cluster elects a higher-id (longer) member.
    // if every rep were the min id, this test catches the regression
    // where the window ordering silently degrades to id order
    assert(reps.exists(r =>
      r.getLong(r.fieldIndex("rep_doc"))
        > r.getLong(r.fieldIndex("cluster"))))
  }

  test("contamination spans are maximal, in-bounds, and cover q113's docs") {
    import spark.implicits._
    val spans = operators.Dedup.q216ContaminationSpans(spark, sf)
      .as[(Long, Int, Int, Long)].collect()
    assert(spans.nonEmpty)
    spans.foreach { case (_, s, e, n) =>
      assert(s >= 0 && e >= s + 7) // an 8-gram span covers 8 tokens
      assert(n >= 1 && n <= e - s - 6) // grams fit inside the span
    }
    // islands are maximal: consecutive spans in a doc are separated
    // by at least one clean gram START (s2 > e1-6 ⇔ next gram start
    // > last gram start + 1); the 8-token tails may still brush
    spans.groupBy(_._1).values.foreach { ds =>
      ds.sortBy(_._2).sliding(2).foreach {
        case Array((_, _, e1, _), (_, s2, _, _)) => assert(s2 > e1 - 6)
        case _ => ()
      }
    }
    // doc coverage identical to the doc-level flag query
    val flagged = operators.Dedup.q113Decontamination(spark, sf)
      .select("doc_id").as[Long].collect().toSet
    assert(spans.map(_._1).toSet == flagged)
  }

  test("threshold sweep is monotone and its 0.8 row IS the production " +
      "pair count") {
    val rows = Dedup.q223ThresholdSweep(spark, sf).collect()
      .map(r => (r.getAs[Double]("threshold"), r.getAs[Long]("n_pairs"),
        r.getAs[Long]("n_docs_flagged")))
      .sortBy(_._1)
    // raising the cut-off can only shrink both counts
    rows.sliding(2).foreach {
      case Array((tA, pA, dA), (tB, pB, dB)) =>
        assert(pA >= pB && dA >= dB, s"not monotone: $tA -> $tB")
      case _ =>
    }
    rows.foreach { case (_, p, d) =>
      assert(d <= p, "flagged docs cannot exceed surviving pairs")
    }
    // the 0.8 bucket must equal what minhashPairs ships to production
    // (sweep and pipeline share one candidate core by construction)
    val prod = Dedup.minhashPairs(Tables.documents(spark, sf)).count()
    val at08 = rows.collectFirst { case (t, p, _) if t == 0.8 => p }
    assert(at08.getOrElse(0L) == prod, s"sweep@0.8=$at08 vs prod=$prod")
  }

  test("minhash calibration buckets partition the banded candidate " +
      "set and the estimator tracks exact jaccard") {
    val docs = Tables.documents(spark, sf)
    val nCand = Dedup.minhashCandidatesScored(docs).count()
    val rows = Dedup.q226MinhashCalibration(spark, sf).collect()
    assert(rows.map(_.getAs[Long]("n_pairs")).sum == nCand,
      "buckets must partition the candidate pairs exactly")
    rows.foreach { r =>
      val est = r.getAs[Double]("est_jaccard")
      val avg = r.getAs[Double]("avg_exact_jaccard")
      assert(est >= 0.0 && est <= 1.0, r.toString)
      assert(avg >= 0.0 && avg <= 1.0, r.toString)
      assert(est == r.getAs[Int]("n_sig_matches") / 16.0)
    }
    // banded candidates share at least one full band = 4 matching
    // seeds, so no bucket below 4 can exist
    assert(rows.forall(_.getAs[Int]("n_sig_matches") >= 4))
  }

  test("cluster downweighting conserves corpus mass and agrees with " +
      "the q69 cluster inventory") {
    val rows = Dedup.q229ClusterDownweight(spark, sf).collect()
    val docs = Tables.documents(spark, sf)
    val corpusDocs = docs.count()
    val corpusTokens = docs.select(
      org.apache.spark.sql.functions.size(
        org.apache.spark.sql.functions.split(
          graft.functions.Cols.normText(col("text")), " "))
        .cast("long").as("t"))
      .agg(org.apache.spark.sql.functions.sum(col("t"))).head().getLong(0)
    assert(rows.map(_.getAs[Long]("n_docs")).sum == corpusDocs)
    assert(rows.map(_.getAs[Long]("tokens_total")).sum == corpusTokens)
    rows.foreach { r =>
      val k = r.getAs[Long]("cluster_size")
      assert(r.getAs[Long]("tokens_keep_one") <=
        r.getAs[Long]("tokens_total"))
      assert(r.getAs[Double]("tokens_effective") ==
        r.getAs[Long]("tokens_total").toDouble / k)
      // keep-one and 1/k weighting agree exactly on singletons
      if (k == 1L)
        assert(r.getAs[Double]("tokens_effective") ==
          r.getAs[Long]("tokens_keep_one").toDouble)
    }
    // the k>=2 inventory must match q69's cluster table
    val q69Sizes = Dedup.q69DedupClusters(spark, sf).collect()
      .groupBy(_.getAs[Long]("n_docs")).map { case (k, cs) =>
        k -> cs.length.toLong
      }
    val got = rows.filter(_.getAs[Long]("cluster_size") >= 2L)
      .map(r => r.getAs[Long]("cluster_size") ->
        r.getAs[Long]("n_clusters")).toMap
    assert(got == q69Sizes, s"got=$got q69=$q69Sizes")
  }

  test("winnowing selects at the theoretical density and counts are " +
      "internally consistent") {
    val rows = Dedup.q253Winnowing(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (ng, nw, nfp) = (r.getAs[Long]("n_grams"),
        r.getAs[Long]("n_windows"), r.getAs[Long]("n_fp"))
      assert(nw == ng - 4, s"doc ${r.getLong(0)}: windows != grams-4")
      assert(nfp >= 1 && nfp <= nw)
      // a selected fingerprint covers at most w=5 windows, so at least
      // ceil(n_windows/5) distinct mins must be selected
      assert(nfp >= (nw + 4) / 5, s"doc ${r.getLong(0)}: too few fps")
    }
    // expected density is 2/(w+1) = 0.333; the corpus mean must sit
    // near it (the certificate that window-min selection is unbiased)
    val mean = rows.map(_.getAs[Double]("density")).sum / rows.length
    assert(mean > 0.25 && mean < 0.42, s"mean density $mean")
  }

  test("duplicated-prefix inventory only reports real duplicates, " +
      "ranked by population") {
    val rows = Dedup.q256PrefixDup(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 20)
    val counts = rows.map(_.getAs[Long]("n_docs"))
    assert(counts.forall(_ >= 2))
    assert(counts.sliding(2).forall { case Array(a, b) => a >= b })
    rows.foreach { r =>
      assert(r.getAs[String]("prefix").split(" ").length == 8)
    }
  }

  test("split repair: every doc accounted, singletons never move, " +
      "post-repair leakage is zero") {
    val rows = operators.SplitRepair.q270SplitRepair(spark, sf).collect()
    val nDocs = Tables.documents(spark, sf).count()
    assert(rows.map(_.getAs[Long]("n_docs")).sum == nDocs)
    rows.foreach { r =>
      // the certificate: recomputed from the edge list, not asserted
      assert(r.getAs[Long]("cross_pairs_after") == 0L)
      // unclustered docs have nothing to repair
      if (!r.getAs[Boolean]("clustered"))
        assert(r.getAs[String]("split_before") ==
          r.getAs[String]("split_after"))
    }
    // the fixture has near-dup clusters spanning splits, so the repair
    // must actually move something (else the test is vacuous)
    assert(rows.exists(r => r.getAs[Boolean]("clustered") &&
      r.getAs[String]("split_before") != r.getAs[String]("split_after")))
  }

  test("prefix-filtered exact Jaccard join equals brute force and " +
      "banding recall is measured against it") {
    import org.apache.spark.sql.functions.col
    val docs = graft.Tables.documents(TestSpark.spark, TestSpark.sf)
    val got = operators.Dedup.q289PrefixJaccardJoin(
      TestSpark.spark, TestSpark.sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute force on the sf0.001 fixture, driver-side
    val sets = docs.select(col("doc_id"), col("text")).collect().map { r =>
      val w = r.getString(1).toLowerCase.replaceAll("\\s+", " ")
        .trim.split(" ")
      r.getLong(0) -> w.sliding(2).map(_.mkString(" ")).toSet
    }.filter(_._2.nonEmpty).toMap
    // iterate as Seq: a for-comprehension over a Map would yield a
    // Map and silently collapse pairs sharing the left doc id
    val expected = (for {
      (a, sa) <- sets.toSeq; (b, sb) <- sets.toSeq if a < b
      inter = (sa & sb).size
      if sa.nonEmpty && sb.nonEmpty
      j = inter.toDouble / (sa | sb).size
      if j >= 0.8
    } yield (a, b)).toSet
    assert(got == expected)
    // measured recall: found is a subset of exact, per band
    val recall = operators.Dedup.q290BandRecallMeasured(
      TestSpark.spark, TestSpark.sf).collect()
    assert(recall.map(_.getAs[Long]("n_exact")).sum == got.size)
    recall.foreach { r =>
      assert(r.getAs[Long]("n_found") <= r.getAs[Long]("n_exact"))
      val rc = r.getAs[Double]("recall")
      assert(rc >= 0.0 && rc <= 1.0)
    }
  }

  test("histogram counting bound is recall-complete: no J >= 0.8 pair " +
      "ever fails 9*sum_b min(hA[b], hB[b]) >= 4*(nA+nB)") {
    // property form of the q289 pre-verify's proof: for ANY two sets,
    // common tokens hashing to bin b are a subset of each side's
    // bin-b tokens, so the bin-wise min-sum upper-bounds the overlap;
    // drive it with seeded random sets including heavy-overlap pairs
    val rnd = new scala.util.Random(42)
    def hash64(s: String): Int = // any deterministic bin map works for
      math.floorMod(s.hashCode, 64) // the property (proof is map-free)
    for (_ <- 1 to 200) {
      val base = (1 to (5 + rnd.nextInt(80)))
        .map(_ => "tok" + rnd.nextInt(500)).toSet
      // near-dup partner: drop a few, add a few
      val b = base.filter(_ => rnd.nextDouble() > 0.05) ++
        (1 to rnd.nextInt(4)).map(_ => "tok" + rnd.nextInt(500))
      val a = base
      val inter = (a & b).size
      val j = if ((a | b).nonEmpty) inter.toDouble / (a | b).size else 0.0
      val ha = a.groupBy(hash64).view.mapValues(_.size).toMap
      val hb = b.groupBy(hash64).view.mapValues(_.size).toMap
      val bound = (0 until 64).map(i =>
        math.min(ha.getOrElse(i, 0), hb.getOrElse(i, 0))).sum
      assert(bound >= inter, s"bin-min sum $bound < true overlap $inter")
      if (j >= 0.8)
        assert(bound * 9 >= 4 * (a.size + b.size),
          s"qualifying pair (j=$j) failed the counting bound")
    }
  }

  test("native shingle_bin_hist / int_vec_min_sum equal the HOF " +
      "histogram and fold they replace, element for element") {
    import org.apache.spark.sql.functions.{col, expr}
    val rnd = new scala.util.Random(7)
    val rows = (1 to 60).map { i =>
      val sh = (1 to (1 + rnd.nextInt(90)))
        .map(_ => "sh" + rnd.nextInt(400)).distinct
      (i.toLong, sh)
    }
    val df = spark.createDataFrame(rows).toDF("doc_id", "sh")
    val both = df.select(
      graft.functions.TextExprs.shingleBinHist64(col("sh")).as("hn"),
      expr("transform(sequence(0, 63), i -> " +
        "size(filter(sh, x -> pmod(xxhash64(x), 64) = i)))").as("hh"))
    assert(both.filter(col("hn") =!= col("hh")).count() == 0)
    val pairs = both.select(col("hn").as("ha"))
      .crossJoin(both.select(col("hh").as("hb"))).limit(500)
      .select(
        graft.functions.TextExprs.intVecMinSum(col("ha"), col("hb"))
          .as("mn"),
        expr("aggregate(zip_with(ha, hb, (x, y) -> least(x, y)), " +
          "0, (acc, x) -> acc + x)").as("mh"))
    assert(pairs.filter(col("mn") =!= col("mh")).count() == 0)
    assert(pairs.filter(col("mn").isNull).count() == 0)
  }

  test("effective mixture: downweighting only removes mass and shares " +
      "still sum to one") {
    val rows = operators.Dedup
      .q275EffectiveMixture(TestSpark.spark, TestSpark.sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      // 1/k weighting can never create tokens
      assert(r.getAs[Double]("eff_tokens") <=
        r.getAs[Long]("raw_tokens").toDouble + 1e-6)
      assert(math.abs(r.getAs[Double]("share_shift") -
        (r.getAs[Double]("eff_share") - r.getAs[Double]("raw_share")))
        < 1e-8)
    }
    assert(math.abs(rows.map(_.getAs[Double]("raw_share")).sum - 1.0) < 1e-6)
    assert(math.abs(rows.map(_.getAs[Double]("eff_share")).sum - 1.0) < 1e-6)
    assert(math.abs(rows.map(_.getAs[Double]("share_shift")).sum) < 1e-6)
  }

  test("linkage weights are finite, smoothed into (0,1), and " +
      "consistent with their counts") {
    val rows = operators.Quality
      .q276LinkageWeights(TestSpark.spark, TestSpark.sf).collect()
    assert(rows.map(_.getAs[String]("field")).toSet ==
      Set("bal_band", "nation", "segment"))
    rows.foreach { r =>
      val (m, u) = (r.getAs[Double]("m_prob"), r.getAs[Double]("u_prob"))
      // add-one smoothing keeps both probabilities strictly interior
      assert(m > 0.0 && m < 1.0 && u > 0.0 && u < 1.0)
      assert(r.getAs[Long]("agree_match") <= r.getAs[Long]("n_match_pairs"))
      assert(r.getAs[Long]("agree_nonmatch") <=
        r.getAs[Long]("n_nonmatch_pairs"))
      val w = r.getAs[Double]("weight")
      assert(math.abs(w - math.log(m / u) / math.log(2.0)) < 1e-6)
    }
  }
}
