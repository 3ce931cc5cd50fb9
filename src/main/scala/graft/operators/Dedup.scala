package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Cols

/** Deduplication operators over the `documents` table — the LLM-pipeline
  * extension surface (SURVEY.md §2B "Distinct / approx" + north star).
  *
  * Three tiers, all bucket-based (NEVER all-pairs — at 100 TB an
  * all-pairs comparison is quadratic and impossible; every operator here
  * shuffles only on a small derived key):
  *
  *  - exact:   group on a content fingerprint (md5 of normalized text) —
  *             one shuffle on the 128-bit key, map-side partial agg.
  *  - MinHash: shingle → per-seed min-hash signature → band keys →
  *             candidates are pairs sharing a band bucket; candidates are
  *             then verified with exact n-gram Jaccard. Join happens per
  *             (band, band_key) bucket, so work is proportional to bucket
  *             sizes, not to n².
  *  - SimHash: 64-bit sign-of-weighted-sum sketch; candidate pairs share
  *             one of four 16-bit chunks (pigeonhole: hamming ≤ 3 ⇒ at
  *             least one chunk identical), verified by bit_count(xor).
  *
  * Everything is native Catalyst expressions (higher-order functions) —
  * no UDFs, no codegen barriers. MinHash uses md5 (portable to the DuckDB
  * oracle); at production scale swap `md5` for `xxhash64` (same shape,
  * ~4× faster, no string allocation) as SimHash already does.
  */
object Dedup {

  /** Normalized word tokens of a text column (lower, collapse ws, trim). */
  private def words(c: Column): Column = split(Cols.normText(c), " ")

  /** Distinct 2-word shingles; callers must guard size(words) >= 2.
    * Shared with the streaming gate (q217): probe keys must be
    * bit-identical to the persisted index or the gate silently
    * matches nothing. */
  private[graft] val shingleSql =
    "array_distinct(transform(sequence(1, size(w) - 1), " +
      "i -> concat(element_at(w, i), ' ', element_at(w, i + 1))))"

  /** Band-key explode over a 16-element `sig` column: 4 bands of 4,
    * band_key = md5 of the comma-joined slice. The ONE recipe both
    * the persisted index (bandTable) and the streaming probe (q217)
    * must share — see shingleSql. */
  private[graft] val bandExplodeSql =
    "explode(transform(sequence(0, 3), b -> struct(" +
      "cast(b as int) as band, " +
      "md5(concat_ws(',', slice(sig, b * 4 + 1, 4))) as band_key)))"

  /** doc_id + distinct shingle set for every document with >= 2 tokens.
    * The corpus arrives as few large files, so the scan alone may give
    * one partition per file; the sketches below are CPU-bound per row,
    * so spread rows over all cores first (the exchange moves only
    * doc_id+text — negligible next to the hashing it parallelizes).
    * Materialized once (localCheckpoint): every consumer joins the
    * shingle table 2-4 times (signature/index build + per-side
    * verify), and recomputing the shingling per consumer would
    * dominate. At cluster scale this is "write the sketch table to
    * parquet once, join it many times". */
  private[graft] def shingled(docs: DataFrame): DataFrame =
    docs
      .repartition(docs.sparkSession.sparkContext.defaultParallelism)
      .select(col("doc_id"), words(col("text")).as("w"))
      .filter(size(col("w")) >= 2)
      .select(col("doc_id"), expr(shingleSql).as("sh"))
      // lazy: the checkpoint materializes on first use, not at
      // DataFrame construction (eager would run the shingling job
      // even for plan-only callers like explain)
      .localCheckpoint(eager = false)

  /** Exact dedup: every row keyed by content fingerprint; keep the lowest
    * doc_id per group. One hash-aggregate shuffle on the fingerprint —
    * the exact-dedup plan that survives 100 TB (partial agg map-side,
    * 16-byte keys through the exchange). */
  def q24DedupExact(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(Cols.fingerprint(col("text")).as("fp"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy(col("fp"))

  /** MinHash near-dedup, 16 hashes in 4 bands of 4, verified with exact
    * 2-gram Jaccard >= 0.8 on the candidates only.
    *
    * Plan shape: one narrow pass computes the 16-minhash signature per doc
    * (array_min over the shingle set — no explode, no shuffle), bands
    * explode 4 rows/doc, the self-join shuffles both sides on
    * (band, band_key) so only same-bucket pairs are compared, and the
    * Jaccard verify joins shingle sets back by doc_id. At 1000 executors
    * each bucket is a few docs; skewed buckets (boilerplate dups) are the
    * known hazard — AQE skew-join handles moderate skew, salting the
    * band_key is the escape hatch. */
  def q25DedupMinhash(spark: SparkSession, dir: String): DataFrame =
    minhashPairs(Tables.documents(spark, dir))
      .orderBy(col("doc_a"), col("doc_b"))

  /** Reusable core of q25 over any (doc_id, text) DataFrame. Returns
    * the verified pair set UNORDERED — q25 sorts for its own display
    * contract; the graph/audit consumers (q69/q122/q125/q141/q150/
    * q158) all aggregate immediately, and a global sort here would be
    * a wasted range-exchange for every one of them. */
  def minhashPairs(documents: DataFrame): DataFrame =
    minhashCandidatesScored(documents).filter(col("jaccard") >= 0.8)

  /** [[minhashPairs]] over an ALREADY-SHINGLED frame — the sharing
    * hook for compositions (q290, q279) that also consume the shingle
    * table through another operator: one pin feeds both subtrees
    * instead of each call materializing its own identical checkpoint
    * (guide §2.4 — the duplicated subtree was a full normalize+shingle
    * pass plus a second checkpoint write per query). */
  private[graft] def minhashPairsOf(shingledDocs: DataFrame): DataFrame =
    minhashCandidatesScoredOf(shingledDocs).filter(col("jaccard") >= 0.8)

  /** The banded candidate set with exact Jaccard but WITHOUT the 0.8
    * keep threshold — the sub-core q223's threshold sweep and q226's
    * estimator calibration need: both reason about what the verify
    * step would do at other cut-offs, so the cut-off can't be baked
    * in. minhashPairs == this.filter(jaccard >= 0.8). */
  def minhashCandidatesScored(documents: DataFrame): DataFrame =
    minhashCandidatesScoredOf(shingled(documents))

  /** [[minhashCandidatesScored]] body over a pre-shingled frame (see
    * [[minhashPairsOf]] for why the split exists).
    *
    * Plan shape: the band self-join carries a `merge` hint, so both
    * sides plan the same `hashpartitioning(band, band_key)` exchange
    * over the signature table and the second side reuses the first
    * (`ReusedExchange`): the 16-MD5-per-shingle signature kernel runs
    * once per pairing. Left to itself, Spark broadcasts one side of
    * this small self-join and evaluates the signatures twice, once on
    * the streamed side and once inside the `BroadcastExchange`. At
    * 100 TB the sort-merge join on the band bucket is the plan Spark
    * picks anyway. The candidate pairs are then verified with exact
    * Jaccard by joining the shingle sets back by doc_id. */
  private[graft] def minhashCandidatesScoredOf(
      shingledDocs: DataFrame): DataFrame = {
    val docs = shingledDocs
    val bands = bandTable(docs)
    val cand = bands.as("a")
      .join(bands.as("b").hint("merge"),
        col("a.band") === col("b.band") &&
          col("a.band_key") === col("b.band_key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    cand
      .join(docs.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(docs.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
      // one-pass native expression == size(array_intersect)/
      // size(array_union) bit-for-bit, minus two materialized arrays
      // per pair on the verify hot path (FunctionsSpec pins equality)
      .select(col("doc_a"), col("doc_b"),
        graft.functions.TextExprs.jaccard(col("sh_a"), col("sh_b"))
          .as("jaccard"))
  }

  /** (doc_id, band, band_key) rows for a shingled table: seed-th
    * minhash = min over shingles of md5("<seed>|<shingle>") via the
    * native one-pass expression (functions.MinHashMd5Sigs), 16 hashes
    * grouped into 4 bands of 4. The shared index-build step of the
    * full pairing (q25) and the incremental pairing (q206). */
  private[graft] def bandTable(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        graft.functions.TextExprs.minhashSigs(col("sh"), 16).as("sig"))
      .select(col("doc_id"), expr(bandExplodeSql).as("bk"))
      .select(col("doc_id"), col("bk.band"), col("bk.band_key"))

  /** SimHash near-dedup: 64-bit sketch per doc (bit j is the sign of the
    * token-weighted sum of bit j over xxhash64 of each token), candidates
    * via the 4×16-bit-chunk pigeonhole (hamming <= 3 guarantees a shared
    * chunk), verified by bit_count(xor) <= 3 — measured on this corpus
    * that keeps 15 of the 25 MinHash-verified near-dup pairs with only 2
    * false positives; looser thresholds drown in the shared-vocabulary
    * noise of the synthetic docs. xxhash64 is engine-specific →
    * rows-only in the driver gate; the oracle-checked dedup twins are
    * q24 (exact) and q25 (MinHash). */
  def q26DedupSimhash(spark: SparkSession, dir: String): DataFrame =
    simhashPairs(Tables.documents(spark, dir))

  /** (doc_a < doc_b) candidate pairs from the df-capped inverted
    * shingle index: docs sharing at least one shingle rarer than
    * `dfCap`. The cap bounds every index bucket's O(df²) pair
    * fan-out; recall contract is documented at q68. Shared by the
    * Jaccard (q68) and overlap-profile (q231) verifiers — both score
    * FULL shingle sets afterwards, so the cap never biases reported
    * similarity values, only candidate recall. */
  private[graft] def invertedIndexCandidates(
      docs: DataFrame, dfCap: Int): DataFrame = {
    val ix = docs.select(col("doc_id"), explode(col("sh")).as("s"))
    val rare = ix.groupBy(col("s"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") <= dfCap)
      .select(col("s"))
    val pruned = ix.join(rare, "s")
    pruned.as("a")
      .join(pruned.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /** n-gram Jaccard dedup WITHOUT MinHash: candidates come from an
    * inverted shingle index (docs sharing at least one rare shingle),
    * then exact 2-gram Jaccard verifies. The document-frequency cap is
    * what makes the index scale: a shingle occurring in more than
    * `dfCap` docs (boilerplate) would contribute O(df²) candidate
    * pairs, so it is dropped from the INDEX — the verify step still
    * scores FULL shingle sets, so reported Jaccard values are exact.
    * Recall contract: guaranteed for any pair sharing at least one
    * sub-cap shingle; a dup cluster LARGER than the cap makes its own
    * shingles common and hides its internal pairs — those are exactly
    * the pairs exact dedup (q24) and MinHash banding (q25) still
    * catch, which is why a production pipeline runs the tiers
    * together rather than picking one. */
  def q68NgramJaccard(spark: SparkSession, dir: String): DataFrame = {
    val docs = shingled(Tables.documents(spark, dir))
    invertedIndexCandidates(docs, dfCap = 20)
      .join(docs.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(docs.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        graft.functions.TextExprs.jaccard(col("sh_a"), col("sh_b"))
          .as("jaccard"))
      .filter(col("jaccard") >= 0.6)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Overlap-profile report — Jaccard next to DIRECTIONAL containment.
    * Jaccard conflates two different duplication shapes that demand
    * different drop policies: a pair of mutual near-copies (drop
    * either) and a short doc quoted whole inside a longer one (low
    * Jaccard but containment(A→B) = |A∩B|/|A| ≈ 1; the right move is
    * keep the superset, not keep-min-id). For every inverted-index
    * candidate pair this emits both containment legs, the Jaccard,
    * and a relation class; pairs below the Jaccard floor AND the
    * containment bar are dropped. Candidate recall follows q68's
    * df-cap contract; scoring reuses the checkpointed shingle table —
    * no second text scan. All set sizes are exact integers, so the
    * IEEE ratios are bit-identical across engines. (The synthetic
    * corpus has no strict-subset pairs — `relation` here lands in
    * {mutual_dup, partial_overlap} — but the directional legs are
    * what the operator exists to expose.) */
  def q231OverlapProfile(spark: SparkSession, dir: String): DataFrame = {
    val docs = shingled(Tables.documents(spark, dir))
    invertedIndexCandidates(docs, dfCap = 20)
      .join(docs.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")),
        "doc_a")
      .join(docs.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")),
        "doc_b")
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("long")
          .as("inter"),
        size(col("sh_a")).cast("long").as("n_a"),
        size(col("sh_b")).cast("long").as("n_b"))
      .select(col("doc_a"), col("doc_b"),
        (col("inter").cast("double") / col("n_a")).as("cont_a"),
        (col("inter").cast("double") / col("n_b")).as("cont_b"),
        (col("inter").cast("double") /
          (col("n_a") + col("n_b") - col("inter"))).as("jaccard"))
      .filter(col("jaccard") >= 0.1 ||
        greatest(col("cont_a"), col("cont_b")) >= 0.9)
      .withColumn("relation",
        when(col("jaccard") >= 0.8, lit("mutual_dup"))
          .when(col("cont_a") >= 0.9, lit("a_in_b"))
          .when(col("cont_b") >= 0.9, lit("b_in_a"))
          .otherwise(lit("partial_overlap")))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Min-label rounds to attempt before concluding the graph is NOT the
    * tiny-diameter near-dup shape and handing off to star contraction.
    * Near-dup clusters converge in 2-3 rounds; a graph still moving
    * after 6 has a long-chain component where per-round propagation
    * (one hop per shuffle) would loop the driver diameter times. */
  private val MinLabelMaxRounds = 6

  /** Hard cap on star-contraction rounds. The alternation converges in
    * O(log n) rounds (~60 covers any graph with < 2^60 nodes), so
    * hitting this is a bug, not a big graph — fail loudly rather than
    * loop the driver forever. */
  private val StarMaxRounds = 60

  /** Connected components over an undirected edge list. Two regimes,
    * chosen by the data:
    *
    *  - min-label propagation (the fast path): every node starts
    *    labeled with its own id; each round every node takes the
    *    minimum label among itself and its neighbors. Rounds = graph
    *    diameter — near-dup clusters are tiny and dense (diameter
    *    1-3), so this converges in a couple of shuffles even at 100 TB
    *    corpus scale, and each round is one join + one aggregate.
    *  - large-star/small-star contraction ([[ccStarWithRounds]]): if
    *    min-label is still moving after [[MinLabelMaxRounds]], the
    *    graph has a high-diameter component and one-hop-per-round
    *    propagation is the wrong algorithm; hand the edges PLUS the
    *    labels learned so far (each (id, label) pair is a
    *    connectivity-preserving shortcut edge) to the O(log n)
    *    contraction, so the work already done is kept.
    *
    * `localCheckpoint` truncates the loop's lineage so plans don't
    * grow per round. */
  def connectedComponents(edges: DataFrame): DataFrame = {
    val e = edges.toDF("src", "dst").localCheckpoint()
    val sym = e.union(e.select(col("dst"), col("src")))
    // LAZY pins in the loop (r16, guide §5 — fewer driver actions):
    // each round's pin is materialized BY the convergence check's own
    // job instead of a separate eager-checkpoint job — one action per
    // round instead of two; the blocks still cut lineage so round k's
    // plan never re-derives rounds 1..k−1.
    var labels = sym.select(col("src").as("id")).distinct()
      .withColumn("label", col("id")).localCheckpoint(eager = false)
    var converged = false
    var rounds = 0
    while (!converged && rounds < MinLabelMaxRounds) {
      rounds += 1
      val next = sym.join(labels, sym("src") === labels("id"))
        .select(col("dst").as("id"), col("label"))
        .union(labels)
        .groupBy(col("id")).agg(min(col("label")).as("label"))
        .localCheckpoint(eager = false)
      converged = next.as("n")
        .join(labels.as("p"), col("n.id") === col("p.id"))
        .filter(col("n.label") < col("p.label"))
        .isEmpty
      labels = next
    }
    if (converged) labels
    else ccStarWithRounds(
      sym.select(col("src"), col("dst"))
        .union(labels.select(col("id"), col("label"))))._1
  }

  /** Large-star/small-star connected components — the O(log n)-round
    * contraction for graphs whose diameter makes per-hop label
    * propagation infeasible (a 1M-node chain is 1M min-label rounds
    * but ~20 star rounds). Alternates two local operations over the
    * edge set until it reaches a fixed point:
    *
    *  - large-star: each center c rewires its strictly-LARGER
    *    neighbors to m = min(N(c) ∪ {c}). Processed from the smaller
    *    endpoint of every edge, so each edge is handled exactly once.
    *  - small-star: each center c rewires its strictly-SMALLER
    *    neighbors — and itself — to the minimum of that set.
    *
    * Both steps preserve connectivity (every rewired node stays linked
    * to m through c's star) and only ever decrease parent pointers, so
    * the edge set converges to the star of each component: (node,
    * component-min) for every non-min node. Each step is one groupBy
    * (the per-center min) + one join (the rewire) on the edge list —
    * no diameter term anywhere. Fixed point is detected by set
    * equality (count + one anti-join); at cluster scale the same check
    * is a checksum comparison of the sorted edge sets.
    *
    * Returns (labels(id, label), rounds) — rounds is the number of
    * large+small alternations, asserted O(log n) in DedupSpec. */
  def ccStarWithRounds(edges: DataFrame): (DataFrame, Int) = {
    // ONE pin of the raw edge input (r16): nodes and the canonical
    // edge set both derive from it — previously each carried its own
    // EAGER pin, so the input (e.g. q69's minhashPairs) was computed
    // twice in two separate jobs. Lazy pins throughout: the first
    // count below materializes `in` and `e` in one job; `nodes` is
    // materialized from the pinned input blocks by the final label
    // union's own job.
    val in = edges.toDF("a", "b").localCheckpoint(eager = false)
    // every node mentioned in the input gets a label — including nodes
    // whose only edge is a self-loop, which the contraction below
    // never sees (min-label parity; the hybrid hand-off relies on it)
    val nodes = in.select(col("a").as("id"))
      .union(in.select(col("b").as("id"))).distinct()
      .localCheckpoint(eager = false)
    // canonical (u > v) undirected pairs; self-loops dropped
    var e = in.filter(col("a") =!= col("b"))
      .select(greatest(col("a"), col("b")).as("u"),
        least(col("a"), col("b")).as("v"))
      .distinct().localCheckpoint(eager = false)
    // carry the edge count across rounds (r15 opt): each round's
    // fixed-point check needs |small| == |e|, and |e| is last round's
    // |small| — one count job per round instead of two
    var eCount = e.count()
    var rounds = 0
    var converged = eCount == 0L
    while (!converged) {
      rounds += 1
      if (rounds > StarMaxRounds)
        throw new IllegalStateException(
          s"star contraction not converged after $StarMaxRounds rounds")
      // symmetric adjacency (center, neighbor), centers' neighborhood min
      val sym = e.select(col("u").as("c"), col("v").as("n"))
        .union(e.select(col("v").as("c"), col("u").as("n")))
      val mins = sym.groupBy(col("c"))
        .agg(min(col("n")).as("mn"))
        .select(col("c"), least(col("mn"), col("c")).as("m"))
      // large-star: every edge from its smaller endpoint c — the larger
      // endpoint n reattaches to c's neighborhood min (m <= c < n, so
      // the (n, m) output is already in canonical u > v order)
      // `large` carries NO pin (r16): small's plan references it
      // twice (minsS + the rewire join), but both references consume
      // the IDENTICAL exchange under large's distinct(), so AQE stage
      // reuse computes the subtree once inside small's single job —
      // one action per round instead of two. (The r15 interim forms
      // both lose: an EAGER pin pays a separate materialization
      // action per round; a LAZY pin hides the exchange from the
      // reuse rule and its two in-job references race to compute the
      // blocks — measured 10.1 s vs 8.8 s on q210.)
      val large = sym.join(mins, "c")
        .filter(col("n") > col("c"))
        .select(col("n").as("u"), col("m").as("v"))
        .distinct()
      // small-star over the large-star output: center c with smaller
      // neighbors S, m = min(S); c and every member of S \ {m} attach
      // to m
      val symS = large.select(col("u").as("c"), col("v").as("n"))
      val minsS = symS.groupBy(col("c")).agg(min(col("n")).as("m"))
      val small = symS.join(minsS, "c")
        .filter(col("n") =!= col("m"))
        .select(col("n").as("u"), col("m").as("v"))
        .union(minsS.select(col("c").as("u"), col("m").as("v")))
        .distinct().localCheckpoint(eager = false)
      // fixed point: the round changed nothing (set equality; counts
      // first so the anti-join only runs at parity)
      val smallCount = small.count()
      converged = smallCount == eCount &&
        small.join(e, Seq("u", "v"), "left_anti").isEmpty
      e = small
      eCount = smallCount
    }
    // at the fixed point e IS the component stars: (node, root) per
    // non-root node; roots — and self-loop-only nodes — label
    // themselves via the nodes union. groupBy-min collapses the
    // self-rows with the star rows.
    val labels = e.select(col("u").as("id"), col("v").as("label"))
      .union(nodes.select(col("id"), col("id").as("label")))
      .groupBy(col("id")).agg(min(col("label")).as("label"))
    (labels, rounds)
  }

  /** Dedup clusters: connected components over the MinHash-verified
    * near-dup pairs (q25), summarized per cluster. The canonical
    * keep-one-copy step of a dedup pipeline — every cluster keeps its
    * minimum doc_id (the cluster label). Oracle: DuckDB recursive CTE
    * computing the same min-reachable-id labels over the same edges. */
  def q69DedupClusters(spark: SparkSession, dir: String): DataFrame =
    connectedComponents(
      minhashPairs(Tables.documents(spark, dir))
        .select(col("doc_a"), col("doc_b")))
      .groupBy(col("label").as("cluster"))
      .agg(count(lit(1)).as("n_docs"), max(col("id")).as("max_doc"))
      .orderBy(col("cluster"))

  /** Star-contraction components over a deliberately LONG-CHAIN graph —
    * the adversarial shape min-label propagation cannot survive (rounds
    * = diameter) and the reason [[ccStarWithRounds]] exists. Fixture:
    * within each language, consecutive documents (by doc_id rank) are
    * chained — one path component per language, diameter = docs/lang.
    * At sf0.01 that is ~80-250 hops: a min-label run would take that
    * many shuffle rounds; the contraction takes O(log n) (round count
    * pinned in DedupSpec). Output is the per-component summary in
    * q69's shape; the oracle recomputes the same labels with a
    * recursive transitive closure over the same chain edges, so a
    * contraction bug that splits, merges, or mislabels a component
    * fails the hash. The chain is built with one window (lead over
    * doc_id per lang) — no join, no shuffle beyond the per-lang
    * partition. */
  def q210ChainComponents(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("doc_id"))
    val edges = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"))
      .withColumn("nxt", lead(col("doc_id"), 1).over(w))
      .filter(col("nxt").isNotNull)
      .select(col("doc_id"), col("nxt"))
    ccStarWithRounds(edges)._1
      .groupBy(col("label").as("cluster"))
      .agg(count(lit(1)).as("n_docs"), max(col("id")).as("max_doc"))
      .orderBy(col("cluster"))
  }

  /** The dedup pipeline's actual OUTPUT: the kept corpus. Every
    * near-dup cluster (q69's components) keeps exactly its canonical
    * doc (the minimum id — the component label); untouched docs pass
    * through. Reported per language as kept/dropped counts and
    * surviving characters — the numbers a curation run publishes.
    * The drop set (cluster members only — tiny relative to the corpus)
    * broadcasts into a LEFT OUTER join so the full corpus streams
    * through once and both kept and dropped rows stay countable; a
    * pipeline that only needs the survivors would use LEFT ANTI and
    * skip the drop-side bookkeeping. */
  def q141KeptCorpus(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val dropped = connectedComponents(
      minhashPairs(docs).select(col("doc_a"), col("doc_b")))
      .filter(col("id") =!= col("label"))
      .select(col("id").as("doc_id"), lit(1).as("is_dropped"))
    docs.join(broadcast(dropped), Seq("doc_id"), "left")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("is_dropped").isNull, 1L).otherwise(0L))
          .as("n_kept"),
        sum(coalesce(col("is_dropped").cast("long"), lit(0L)))
          .as("n_dropped"),
        sum(when(col("is_dropped").isNull, col("n_chars"))
          .otherwise(0L)).as("kept_chars"))
      .orderBy(col("lang"))
  }

  /** q215: per-cluster representative selection by QUALITY, not by
    * min-id. q141's keep-lowest-doc_id policy is the textbook default,
    * but a production curation pipeline keeps the BEST member of each
    * near-dup cluster — a boilerplate-stripped mirror should win over
    * the ad-cluttered original even when its id is higher. Quality
    * proxy here is token count (the repo's q33 quality gate is bucketed
    * on it); ties break to the lowest doc_id so selection is total and
    * oracle-stable.
    *
    * Plan shape: components over the banded pair set (never all-pairs),
    * then ONE hash exchange on the cluster label serves both the
    * row_number window and the final aggregate — the groupBy reuses the
    * window's partitioning, so "rank inside cluster then summarize
    * cluster" costs one shuffle of (id, label, n_tokens) triples, not
    * two. `dropped_tokens` is what the policy saves downstream: tokens
    * that would have been tokenized+trained on had the whole cluster
    * survived. */
  def q215ClusterRepresentatives(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val members = connectedComponents(
      minhashPairs(docs).select(col("doc_a"), col("doc_b")))
      .join(docs.select(col("doc_id").as("id"),
        size(words(col("text"))).as("n_tokens")), "id")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("label"))
      .orderBy(col("n_tokens").desc, col("id").asc)
    members.withColumn("rk", row_number().over(w))
      .groupBy(col("label").as("cluster"))
      .agg(count(lit(1)).as("n_members"),
        max(when(col("rk") === 1, col("id"))).as("rep_doc"),
        max(when(col("rk") === 1, col("n_tokens"))).as("rep_tokens"),
        sum(when(col("rk") > 1, col("n_tokens")).otherwise(0L))
          .as("dropped_tokens"))
      .orderBy(col("cluster"))
  }

  /** PageRank over the symmetric near-dup graph — iterative graph
    * analytics beyond q125's BFS, in the Pregel shape: per-iteration
    * join (ranks → out-edges) + aggregate (contributions per target),
    * lineage truncated each round with localCheckpoint exactly like
    * [[connectedComponents]]. All arithmetic is FIXED-POINT INTEGER
    * (units of 1e-12): per-edge contribution `rank div outdeg`, damped
    * update `0.15 + 0.85·sum` as `15e10 + (85·sum) div 100` — integer
    * division is bitwise deterministic in any engine and under any
    * shuffle order, so 10 iterations stay hash-comparable where
    * floating-point ranks would drift. Every node of this graph has
    * outdeg ≥ 1 (edges are symmetric), so no dangling-mass term. */
  def q150PageRank(spark: SparkSession, dir: String): DataFrame = {
    val pairs = minhashPairs(Tables.documents(spark, dir))
      .select(col("doc_a"), col("doc_b"))
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .localCheckpoint()
    // loop-invariant frames pinned ONCE (r16): un-pinned, every
    // iteration's action re-ran the distinct/groupBy exchange over the
    // edge blocks — 2 recomputed aggregations × 9 rounds for frames
    // that never change. Lazy pins: each is consumed exactly once per
    // job (no in-job double-materialization race), and the first
    // iteration's action materializes both.
    val outdeg = edges.groupBy(col("src"))
      .agg(count(lit(1)).as("outdeg"))
      .localCheckpoint(eager = false)
    val nodes = edges.select(col("src").as("id")).distinct()
      .localCheckpoint(eager = false)
    val unit = 1000000000000L // 1.0 in 1e-12 units
    val base = 150000000000L  // 0.15
    var ranks = nodes.withColumn("units", lit(unit)).localCheckpoint()
    for (_ <- 1 to 10) {
      val contrib = edges
        .join(ranks, edges("src") === ranks("id"))
        .join(outdeg, "src")
        .select(col("dst"), expr("units div outdeg").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("s"))
      ranks = nodes
        .join(contrib, nodes("id") === contrib("dst"), "left")
        .select(col("id"),
          (lit(base) + expr("(85 * coalesce(s, 0L)) div 100"))
            .as("units"))
        .localCheckpoint()
    }
    ranks
      .select(col("id").as("doc_id"), col("units").as("rank_units"))
      .orderBy(col("rank_units").desc, col("doc_id"))
      .limit(50)
  }

  /** Reusable core of q26 over any (doc_id, text) DataFrame. */
  def simhashPairs(documents: DataFrame): DataFrame = {
    val docs = documents
      .repartition(documents.sparkSession.sparkContext.defaultParallelism)
      .select(col("doc_id"), words(col("text")).as("w"))
      .filter(size(col("w")) >= 1)
    val sketched = docs.select(col("doc_id"),
      graft.functions.TextExprs.simhash64(col("w")).as("simhash"))
    val chunks = sketched.select(col("doc_id"), col("simhash"), expr(
      "explode(transform(sequence(0, 3), c -> struct(" +
        "cast(c as int) as chunk, " +
        "shiftright(simhash, c * 16) & 65535L as chunk_val)))").as("ck"))
      .select(col("doc_id"), col("simhash"), col("ck.chunk"), col("ck.chunk_val"))
    chunks.as("a")
      .join(chunks.as("b"),
        col("a.chunk") === col("b.chunk") &&
          col("a.chunk_val") === col("b.chunk_val") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= 3)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Multi-signal dedup candidate pool: near-dup pairs from the
    * embedding-cosine signal and the text n-gram-Jaccard signal,
    * unioned with provenance — the review queue a curation pipeline
    * feeds to adjudication when signals disagree. BOTH signals are
    * banded: the embedding side consumes sign-LSH-bucketed candidates
    * ([[Similarity.signLshNearDup]] — never the all-pairs q30 anchor,
    * which stays a correctness/recall reference only), the text side
    * an inverted shingle index; the union is trivially cheap. */
  def q122DedupSignals(spark: SparkSession, dir: String): DataFrame = {
    val emb = Similarity.signLshNearDup(spark, dir, threshold = 0.45)
      .select(col("vec_a").as("id_a"), col("vec_b").as("id_b"),
        lit("embedding").as("signal"),
        round(col("cosine"), 9).as("score"))
    val txt = q68NgramJaccard(spark, dir)
      .select(col("doc_a").as("id_a"), col("doc_b").as("id_b"),
        lit("text_ngram").as("signal"),
        round(col("jaccard"), 9).as("score"))
    emb.unionByName(txt)
      .orderBy(col("signal"), col("id_a"), col("id_b"))
  }

  /** BFS shortest paths over the near-dup graph (Pregel-style): each
    * iteration is ONE distributed join (frontier ⋈ edges) + anti-join
    * against the visited set — the driver loops only over graph
    * DIAMETER (small even on huge graphs), never over rows. Source =
    * the smallest doc id that appears in any MinHash edge, so the
    * result is a pure function of the data. Distances land per node;
    * the same loop at 100 TB is iterative joins over a partitioned
    * edge table (checkpoint every few hops to cut lineage). Edges come
    * from the UNORDERED [[minhashPairs]] core — the per-hop joins
    * aggregate immediately, so q25's display sort would be a wasted
    * global range-exchange here (the Dedup.scala:89-92 contract). */
  def q125ShortestPaths(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{min => fmin}
    val e = minhashPairs(Tables.documents(spark, dir))
      .select(col("doc_a"), col("doc_b"))
    val edges = e.unionByName(
        e.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
      .distinct()
      .localCheckpoint(eager = false) // reused every hop: cut the plan
    val source = edges.agg(fmin(col("doc_a"))).head().getLong(0)
    var visited = edges.sparkSession.range(1)
      .select(lit(source).as("doc_id"), lit(0).as("dist"))
    var frontier = visited
    var hop = 1
    var grew = true
    while (grew && hop <= 20) { // diameter bound; near-dup graphs are shallow
      val next = frontier.join(edges, col("doc_id") === col("doc_a"))
        .select(col("doc_b").as("doc_id")).distinct()
        .join(visited.select(col("doc_id").as("v")),
          col("doc_id") === col("v"), "left_anti")
        .withColumn("dist", lit(hop))
      val n = next.count()
      if (n == 0) grew = false
      else {
        visited = visited.unionByName(next).localCheckpoint(eager = false)
        frontier = next
        hop += 1
      }
    }
    visited.orderBy(col("doc_id"))
  }

  /** Benchmark decontamination — the curation step every training-data
    * pipeline runs before a model sees the corpus: any training
    * document sharing an 8-word gram with the held-out set is flagged.
    * Shape: both sides explode to (gram, doc) pairs, the eval side is
    * deduplicated, the join is gram-equality (inverted-index
    * semantics, never doc×doc), and the aggregate counts distinct
    * overlapping grams per flagged doc. The join strategy is left to
    * the optimizer ON PURPOSE: a real held-out set is tiny and AQE
    * broadcasts it from its measured runtime size, but this fixture's
    * eval side is 10% of the corpus' distinct 8-grams — hinting
    * `broadcast(eval_)` here would hard-code an assumption the data
    * violates and OOM executors at 100 TB. Unhinted, the worst case is
    * a shuffle-on-gram join, which scales. */
  def q113Decontamination(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), words(col("text")).as("w"))
      .filter(size(col("w")) >= 8)
    val gramSql =
      "array_distinct(transform(sequence(0, size(w) - 8), " +
        "i -> array_join(slice(w, i + 1, 8), ' ')))"
    def grams(df: DataFrame) = df
      .select(col("doc_id"), explode(expr(gramSql)).as("gram"))
    val eval_ = grams(docs.filter(col("doc_id") % 10 === 0))
      .select(col("gram")).distinct()
    val train = grams(docs.filter(col("doc_id") % 10 =!= 0))
    train.join(eval_, "gram")
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("gram")).as("n_shared_grams"))
      .orderBy(col("doc_id"))
  }

  /** q216: decontamination at the SPAN level — q113 flags WHICH train
    * docs share 8-grams with the eval set; this reports WHERE, as
    * contiguous token ranges, so the pipeline can excise the
    * contaminated span and keep the rest of the document instead of
    * dropping it whole (the difference between losing a sentence and
    * losing a book when one quoted benchmark question appears in it).
    *
    * Positions survive the plan: grams explode WITH their 0-based
    * token offset (no array_distinct — the same gram at two offsets is
    * two redactions), the eval join keeps only hit offsets, and
    * contiguous runs merge via gaps-and-islands (offset minus
    * per-doc row_number is constant within a run). span_end is the
    * last TOKEN index covered (last gram start + 7). The join shuffles
    * on the gram — same unhinted strategy, and the same reasoning, as
    * q113; the window + island aggregate then shuffle tiny
    * (doc_id, pos) hits only. */
  def q216ContaminationSpans(spark: SparkSession, dir: String): DataFrame = {
    val pg = positionalGrams(spark, dir)
    val eval_ = pg.filter(col("doc_id") % 10 === 0)
      .select(col("gram")).distinct()
    val hits = pg.filter(col("doc_id") % 10 =!= 0)
      .join(eval_, "gram")
      .select(col("doc_id"), col("pos"))
    gramIslandSpans(hits)
      .orderBy(col("doc_id"), col("span_start"))
  }

  /** (doc_id, 0-based token offset, 8-gram) for every >=8-token doc —
    * the shared positional index of the span operators (q216, q218,
    * q219). Checkpointed: each consumer reads it at least twice
    * (candidate build + hit join), and re-exploding the corpus would
    * dominate. */
  private def positionalGrams(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), words(col("text")).as("w"))
      .filter(size(col("w")) >= 8)
      .select(col("doc_id"), posexplode(
        expr("transform(sequence(0, size(w) - 8), " +
          "i -> array_join(slice(w, i + 1, 8), ' '))"))
        .as(Seq("pos", "gram")))
      .localCheckpoint(eager = false)

  /** Merge per-doc gram-hit offsets into maximal contiguous spans
    * (gaps-and-islands: offset minus per-doc row_number is constant
    * within a run); span_end is the last TOKEN index covered (last
    * gram start + 7). The ONE span semantics q216/q218 report and
    * q219 applies — a bound fix lands in all three at once. */
  private def gramIslandSpans(hits: DataFrame): DataFrame = {
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    hits
      .withColumn("island", col("pos") - row_number().over(byDoc))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + 7).as("span_end"),
        count(lit(1)).as("n_grams"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        col("n_grams"))
  }

  /** q218: inter-document duplicated-span excision — the corpus-driven
    * sibling of q216 (same positional-gram + gaps-and-islands
    * machinery, different candidate source): spans whose 8-grams occur
    * in MORE THAN ONE document. This is gram-level line-dedup — the
    * boilerplate-removal pass of a crawl pipeline (headers, footers,
    * licenses repeated across pages) — where q216 excises eval
    * contamination and q198 only PROFILES corpus self-duplication
    * per doc. The df>1 cap is the fixture-scale stand-in; production
    * raises it so only template-grade spans (df over hundreds) are
    * excised, with near-dup handling left to the q25 tier.
    *
    * Plan: the positional gram table builds once (checkpointed — both
    * the df aggregate and the hit join consume it; re-exploding the
    * corpus twice would double the dominant cost), df counts DISTINCT
    * docs per gram (intra-doc repeats are q114's surface, not
    * boilerplate), and the hit join shuffles on the gram exactly like
    * q113/q216 — unhinted, because the shared-gram side is
    * corpus-proportional. */
  def q218BoilerplateSpans(spark: SparkSession, dir: String): DataFrame =
    boilerplateSpans(spark, dir)
      .orderBy(col("doc_id"), col("span_start"))

  /** Unsorted core of q218 — also the span source q219 applies. */
  private def boilerplateSpans(spark: SparkSession, dir: String): DataFrame = {
    val pg = positionalGrams(spark, dir)
    val shared = pg.select(col("doc_id"), col("gram")).distinct()
      .groupBy(col("gram")).agg(count(lit(1)).as("df"))
      .filter(col("df") > 1)
      .select(col("gram"))
    gramIslandSpans(
      pg.join(shared, "gram").select(col("doc_id"), col("pos")))
  }

  /** q219: APPLY the excision q218 reports — emit the redacted corpus.
    * Every token inside a duplicated span is dropped; the survivors
    * reassemble in order and the result is fingerprinted (md5), so the
    * oracle verifies the REASSEMBLED TEXT itself, not just drop
    * counts — an off-by-one in span bounds or a reordering in the
    * rebuild changes the hash. Docs without spans (including the
    * under-8-token ones that cannot carry a span) pass through whole,
    * which the left join + coalesce makes explicit.
    *
    * Plan: tokens explode once; the span anti-join is doc_id-equi with
    * the range check as residual (shuffles on doc_id, never
    * nested-loop); the rebuild is sort_array over per-doc collected
    * (pos, tok) structs — per-doc arrays, no global sort. At 100 TB
    * the excision writes the redacted corpus back to parquet; the md5
    * here stands in for that sink so the whole rebuild is
    * hash-verified. */
  def q219SpanExcision(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), words(col("text")).as("w"))
    val toks = docs
      .select(col("doc_id"), posexplode(col("w")).as(Seq("pos", "tok")))
    val spans = boilerplateSpans(spark, dir)
      .select(col("doc_id").as("span_doc"), col("span_start"),
        col("span_end"))
    val kept = toks.join(spans,
        col("doc_id") === col("span_doc") &&
          col("pos").between(col("span_start"), col("span_end")),
        "left_anti")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        md5(array_join(transform(
          sort_array(collect_list(struct(col("pos"), col("tok")))),
          s => s.getField("tok")), " ")).as("redacted_md5"))
    docs.select(col("doc_id"), size(col("w")).as("n_tokens"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("redacted_md5"), md5(lit(""))).as("redacted_md5"))
      .orderBy(col("doc_id"))
  }

  /** Incremental dedup — the daily-ingest shape: near-dup pairs where
    * at least one side is in the NEW batch (doc_id % 10 == 7 models
    * today's arrivals), checked against the WHOLE corpus. The new
    * side's bands join the full band index, so work is
    * |new bands| × bucket population — at 100 TB you re-pair a day's
    * batch against a persisted band index instead of re-running the
    * all-corpus q25 pairing (old×old pairs were already adjudicated
    * yesterday and are exactly what this query must NOT re-emit).
    * LEAST/GREATEST normalizes orientation so a new-new pair arriving
    * via either side lands once; verify is the same exact-Jaccard
    * gate as q25. */
  def q206IncrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = shingled(Tables.documents(spark, dir))
    val bands = bandTable(docs)
    val newBands = bands.filter(col("doc_id") % 10 === 7)
    val cand = newBands.as("n")
      .join(bands.as("o"),
        col("n.band") === col("o.band") &&
          col("n.band_key") === col("o.band_key") &&
          col("n.doc_id") =!= col("o.doc_id"))
      .select(
        least(col("n.doc_id"), col("o.doc_id")).as("doc_a"),
        greatest(col("n.doc_id"), col("o.doc_id")).as("doc_b"))
      .distinct()
    cand
      .join(docs.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")),
        "doc_a")
      .join(docs.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")),
        "doc_b")
      .select(col("doc_a"), col("doc_b"),
        graft.functions.TextExprs.jaccard(col("sh_a"), col("sh_b"))
          .as("jac_raw"))
      .filter(col("jac_raw") >= 0.8) // gate on the raw value, like q25
      .select(col("doc_a"), col("doc_b"),
        round(col("jac_raw"), 9).as("jaccard"))
      .withColumn("pair_type",
        when(col("doc_a") % 10 === 7 && col("doc_b") % 10 === 7,
          lit("new_new")).otherwise(lit("new_old")))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** q206's daily-ingest story made REAL: the band index is persisted
    * as a bucketed catalog table by "yesterday's" run, and today's
    * incremental pairing READS it — the old corpus is never
    * re-shingled, re-hashed, or re-banded. Same output as q206 (same
    * oracle SQL), different provenance for the old side:
    *
    *  - yesterday: band rows for the old corpus → `graft_band_index`,
    *    bucketed AND sorted on (band, band_key) — the join key — so
    *    today's sort-merge join reads the index clustered and only
    *    shuffles the (tiny) new side. DedupSpec asserts the plan:
    *    bucketed scan on the old side, zero minhash computation over
    *    old documents.
    *  - today: bands computed for the NEW batch only (doc_id%10==7,
    *    ~10% of the corpus); new×old candidates come from the index
    *    join, new×new from the new side's self-join (yesterday's index
    *    cannot contain today's docs). Union reproduces q206's
    *    "new side × full index" candidate set exactly.
    *
    * At 100 TB the index table is the standing artifact a dedup
    * service owns: thousands of buckets, appended (not rewritten) per
    * ingest day, with the verify-side shingle table persisted the same
    * way. 8 buckets here is the sf-scale stand-in. */
  def q211PersistedIndexDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = shingled(Tables.documents(spark, dir))
    Scale.dropManaged(spark, "graft_band_index")
    bandTable(docs.filter(col("doc_id") % 10 =!= 7))
      .write.bucketBy(8, "band", "band_key").sortBy("band", "band_key")
      .mode(org.apache.spark.sql.SaveMode.Overwrite)
      .saveAsTable("graft_band_index")
    val oldIndex = spark.table("graft_band_index")
    // checkpoint: both candidate branches consume the new-batch bands;
    // without it the minhash sketch of the new side runs twice
    val newBands = bandTable(docs.filter(col("doc_id") % 10 === 7))
      .localCheckpoint(eager = false)
    val newOld = newBands.as("n")
      .join(oldIndex.as("o"),
        col("n.band") === col("o.band") &&
          col("n.band_key") === col("o.band_key"))
      .select(least(col("n.doc_id"), col("o.doc_id")).as("doc_a"),
        greatest(col("n.doc_id"), col("o.doc_id")).as("doc_b"))
    val newNew = newBands.as("x")
      .join(newBands.as("y"),
        col("x.band") === col("y.band") &&
          col("x.band_key") === col("y.band_key") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
    val cand = newOld.union(newNew).distinct()
    cand
      .join(docs.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")),
        "doc_a")
      .join(docs.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")),
        "doc_b")
      .select(col("doc_a"), col("doc_b"),
        graft.functions.TextExprs.jaccard(col("sh_a"), col("sh_b"))
          .as("jac_raw"))
      .filter(col("jac_raw") >= 0.8)
      .select(col("doc_a"), col("doc_b"),
        round(col("jac_raw"), 9).as("jaccard"))
      .withColumn("pair_type",
        when(col("doc_a") % 10 === 7 && col("doc_b") % 10 === 7,
          lit("new_new")).otherwise(lit("new_old")))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Band-index MAINTENANCE — the append half of the daily-ingest
    * cycle q211 only narrated (q211 rebuilds the index with Overwrite
    * each run; a standing 100 TB index is never rebuilt daily):
    *
    *  - day 0: base corpus (doc_id%10 ∉ {7,8}) → bucketed index table.
    *  - day 1: the admitted batch (%10==7) APPENDS its bands with
    *    `insertInto` — the write flows through the table's bucket spec
    *    (each append lays one more file per bucket), history is never
    *    rewritten. Periodic compaction (bucket-preserving rewrite once
    *    small per-bucket files accumulate) is the same write shape as
    *    day 0 run over `spark.table(...)` into a fresh table name.
    *  - day 2: the next batch (%10==8) probes the APPENDED index and
    *    must find candidates among base AND day-1 docs — proving the
    *    append is semantically invisible vs a from-scratch rebuild,
    *    which is exactly what the oracle checks (banded candidates of
    *    the day-2 batch against everything else, one SQL text).
    *
    * Plan contract (DedupSpec): the probe's index side is a bucketed
    * scan with no hash exchange — append maintenance must not cost the
    * index its exchange-free join layout. */
  def q238IndexAppendMaintenance(spark: SparkSession,
      dir: String): DataFrame = {
    val docs = shingled(Tables.documents(spark, dir))
    val day1 = col("doc_id") % 10 === 7
    val day2 = col("doc_id") % 10 === 8
    Scale.dropManaged(spark, "graft_band_index_app")
    bandTable(docs.filter(!day1 && !day2))
      .write.bucketBy(8, "band", "band_key").sortBy("band", "band_key")
      .mode(org.apache.spark.sql.SaveMode.Overwrite)
      .saveAsTable("graft_band_index_app")
    bandTable(docs.filter(day1))
      .write.mode(org.apache.spark.sql.SaveMode.Append)
      .insertInto("graft_band_index_app")
    probeBandIndex(docs, spark.table("graft_band_index_app"),
      docs.filter(day2), newMod = 8)
  }

  /** The persisted-index probe shared by q238 (appended index) and
    * q241 (compacted index): band the new batch, take new×index and
    * new×new candidates, verify with exact Jaccard against the
    * shingle table. `newMod` tags pair_type (both sides ≡ newMod →
    * new_new). */
  private def probeBandIndex(docs: DataFrame, index: DataFrame,
      newSide: DataFrame, newMod: Int): DataFrame = {
    val newBands = bandTable(newSide)
      .localCheckpoint(eager = false) // feeds both candidate branches
    val newOld = newBands.as("n")
      .join(index.as("o"),
        col("n.band") === col("o.band") &&
          col("n.band_key") === col("o.band_key"))
      .select(least(col("n.doc_id"), col("o.doc_id")).as("doc_a"),
        greatest(col("n.doc_id"), col("o.doc_id")).as("doc_b"))
    val newNew = newBands.as("x")
      .join(newBands.as("y"),
        col("x.band") === col("y.band") &&
          col("x.band_key") === col("y.band_key") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
    newOld.union(newNew).distinct()
      .join(docs.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")),
        "doc_a")
      .join(docs.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")),
        "doc_b")
      .select(col("doc_a"), col("doc_b"),
        graft.functions.TextExprs.jaccard(col("sh_a"), col("sh_b"))
          .as("jac_raw"))
      .filter(col("jac_raw") >= 0.8)
      .select(col("doc_a"), col("doc_b"),
        round(col("jac_raw"), 9).as("jaccard"))
      .withColumn("pair_type",
        when(col("doc_a") % 10 === newMod && col("doc_b") % 10 === newMod,
          lit("new_new")).otherwise(lit("new_old")))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  // --------------------------- changelog-planned incremental dedup

  private[graft] val CdData = "graft_snap_docs_cd"
  private[graft] val CdManifest = "graft_snap_manifest_cd"
  private[graft] val CdIndex = "graft_band_index_cd"
  private[graft] val CdShingles = "graft_shingles_cd"

  /** Today's incremental-dedup plan over the versioned corpus,
    * reconstructed purely from standing artifacts — split out so
    * TableFormatSpec can assert its scan contract: the corpus table
    * is touched ONLY at the fresh partitions the manifest diff names
    * (shared segments are never scanned — not for shingling, not for
    * banding, not for the verify join, whose old side reads the
    * persisted shingle table). */
  /** The churn read of the versioned corpus — fresh segments named by
    * the v1→v2 manifest diff (metadata arithmetic, the q312 move),
    * partition-pruned. ONE definition consumed by the production plan
    * and by TableFormatSpec's partitions-read assertion, so the spec
    * certifies the same read the job runs. */
  private[graft] def cdChurn(spark: SparkSession): DataFrame = {
    import graft.operators.TableFormat.commitsOf
    val fresh = (commitsOf(spark, CdManifest, 2) --
      commitsOf(spark, CdManifest, 1)).toSeq.sorted
    spark.table(CdData)
      .filter(col("commit_id").isin(fresh: _*))
      .select(col("doc_id"), col("text"))
  }

  private[graft] def changelogDedupPlan(spark: SparkSession): DataFrame = {
    val churnSh = shingled(cdChurn(spark))
    probeBandIndex(
      spark.table(CdShingles).unionByName(churnSh),
      spark.table(CdIndex), churnSh, newMod = 7)
  }

  /** CHANGELOG-PLANNED incremental dedup — the table-format tier and
    * the dedup tier COMPOSED into the actual nightly job of a 100 TB
    * curation pipeline. q206/q211 demonstrate incremental pairing but
    * learn "what is new" from a fixture predicate; q312 demonstrates
    * manifest-diff changelog planning but feeds nothing. Here the
    * corpus is a snapshot-versioned table (v1 = the standing corpus
    * in three hash segments, v2 = v1 + today's ingest commit), and
    * the dedup job plans its INPUT from the manifest diff:
    *
    *  - yesterday (v1 publish time): the band index and the shingle
    *    table are built from a v1 manifest-pruned read and persisted
    *    — the standing artifacts the dedup service owns (q211's
    *    bucketed layout, so today's probe join is exchange-free on
    *    the index side).
    *  - today (v2): fresh segments = v2 ∖ v1 commits — METADATA
    *    arithmetic; only those partitions of the corpus table are
    *    read, shingled, and banded. Shared segments are never
    *    scanned: the verify join's old side comes from the persisted
    *    shingle table, not the corpus (TableFormatSpec asserts the
    *    corpus scans list exactly the fresh partition).
    *
    * Output and oracle are exactly q206's (the full recompute on the
    * same new/old split): composition must be invisible in the
    * answer — the plan's cost moved from O(corpus) to O(churn), the
    * pair set did not move at all. */
  def q320ChangelogDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Seq(CdData, CdManifest, CdIndex, CdShingles)
      .foreach(Scale.dropManaged(spark, _))
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
    // versioned corpus: the standing segments hash-cut (d0..d2), the
    // ingest batch its own commit (d3) — visibility is the manifest's
    val seg = when(col("doc_id") % 10 === 7, lit("d3"))
      .otherwise(concat(lit("d"), (col("doc_id") % 3).cast("string")))
    docs.withColumn("commit_id", seg)
      .write.partitionBy("commit_id")
      .mode(org.apache.spark.sql.SaveMode.Overwrite).saveAsTable(CdData)
    Seq((1, "d0"), (1, "d1"), (1, "d2"),
      (2, "d0"), (2, "d1"), (2, "d2"), (2, "d3"))
      .toDF("version", "commit_id")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .saveAsTable(CdManifest)
    // yesterday's artifacts from the v1-pruned read
    val v1docs = graft.operators.TableFormat.readVersion(spark,
      CdData, CdManifest, 1).select(col("doc_id"), col("text"))
    val oldSh = shingled(v1docs)
    oldSh.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .saveAsTable(CdShingles)
    bandTable(spark.table(CdShingles))
      .write.bucketBy(8, "band", "band_key").sortBy("band", "band_key")
      .mode(org.apache.spark.sql.SaveMode.Overwrite)
      .saveAsTable(CdIndex)
    changelogDedupPlan(spark)
  }

  /** Band-index COMPACTION — the periodic half of the maintenance
    * cycle (q238 is the append half): after appends accumulate small
    * per-bucket files, the standing index is rewritten into its next
    * version with the SAME bucket spec, one file per bucket — with
    * ZERO exchange. The trick is forcing the bucket-aligned scan
    * (autoBucketedScan off for the rewrite): the read then runs one
    * task per bucket, each task merges its bucket's small files and
    * lays exactly one sorted file under the same spec. Compaction is
    * thus a LOCAL per-bucket merge — the scale-correct shape: a
    * 100 TB index compacts without ever reshuffling. (A
    * `repartition(n, bucketCols)` formulation does NOT work: the
    * optimizer removes it as redundant against the table's bucketing
    * and then disables the bucketed scan, leaving an unaligned write
    * that multiplies files — measured, not theorized.) The probe
    * against the compacted version must equal the rebuild oracle
    * (same SQL as q238); DedupSpec asserts one file per bucket and
    * the exchange-free probe. */
  def q241IndexCompaction(spark: SparkSession, dir: String): DataFrame = {
    val docs = shingled(Tables.documents(spark, dir))
    val day1 = col("doc_id") % 10 === 7
    val day2 = col("doc_id") % 10 === 8
    Scale.dropManaged(spark, "graft_band_index_cpt")
    Scale.dropManaged(spark, "graft_band_index_cptd")
    bandTable(docs.filter(!day1 && !day2))
      .write.bucketBy(8, "band", "band_key").sortBy("band", "band_key")
      .mode(org.apache.spark.sql.SaveMode.Overwrite)
      .saveAsTable("graft_band_index_cpt")
    bandTable(docs.filter(day1))
      .write.mode(org.apache.spark.sql.SaveMode.Append)
      .insertInto("graft_band_index_cpt")
    val abs = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    val oldAbs = spark.conf.get(abs)
    spark.conf.set(abs, "false") // bucket-aligned read: 1 task/bucket
    try spark.table("graft_band_index_cpt")
      .write.bucketBy(8, "band", "band_key").sortBy("band", "band_key")
      .mode(org.apache.spark.sql.SaveMode.Overwrite)
      .saveAsTable("graft_band_index_cptd")
    finally spark.conf.set(abs, oldAbs)
    probeBandIndex(docs, spark.table("graft_band_index_cptd"),
      docs.filter(day2), newMod = 8)
  }

  /** INCREMENTAL connected components — the daily-ingest form of the
    * dedup cluster update, completing the incremental family (q206
    * incremental pairing, q238 index append): yesterday's labels are a
    * standing artifact, and today's batch only contributes DELTA edges
    * (new×old + new×new from the banded probe — old×old was
    * adjudicated yesterday and is never re-paired). The update
    * CONTRACTS old endpoints to their old component label, runs CC on
    * the contracted delta graph — nodes are new docs, touched old
    * labels, and touched old singletons, so the graph is
    * delta-sized, not corpus-sized — and relabels:
    *
    *  - old members: label L → merged(L) when the new batch bridged
    *    their component into a larger one, else unchanged;
    *  - new docs / touched old singletons: merged(node) directly.
    *
    * Labels stay "min doc_id in component" because an old label is
    * already the min of its old component, so the min over contracted
    * node ids IS the global min of the merged component. The result is
    * therefore IDENTICAL to a full-corpus recompute, which is exactly
    * what the oracle checks (q69's cluster summary, same SQL text).
    * At 100 TB this is the difference between re-clustering the corpus
    * nightly and touching only components the day's batch reaches. */
  def q242IncrementalCC(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val isNew = col("doc_id") % 10 === 7
    // yesterday's artifact: labels over the OLD corpus only
    val oldLabels = connectedComponents(
      minhashPairs(docs.filter(!isNew)).select(col("doc_a"), col("doc_b")))
      .localCheckpoint(eager = false)
    // today's delta: banded candidates of the new batch against the
    // full corpus (q206's candidate shape), exact-Jaccard verified;
    // ONE shingle checkpoint feeds banding and both verify sides
    val sh = shingled(docs)
    val bands = bandTable(sh)
    val newBands = bands.filter(col("doc_id") % 10 === 7)
    val delta = newBands.as("n")
      .join(bands.as("o"),
        col("n.band") === col("o.band") &&
          col("n.band_key") === col("o.band_key") &&
          col("n.doc_id") =!= col("o.doc_id"))
      .select(least(col("n.doc_id"), col("o.doc_id")).as("doc_a"),
        greatest(col("n.doc_id"), col("o.doc_id")).as("doc_b"))
      .distinct()
      .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")),
        "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")),
        "doc_b")
      .filter(graft.functions.TextExprs
        .jaccard(col("sh_a"), col("sh_b")) >= 0.8)
      .select(col("doc_a"), col("doc_b"))
    // contract old endpoints to their old label (absent → the doc is a
    // new arrival or an untouched-yesterday singleton: itself)
    val cEdges = delta
      .join(oldLabels.select(col("id").as("doc_a"), col("label").as("la")),
        Seq("doc_a"), "left")
      .join(oldLabels.select(col("id").as("doc_b"), col("label").as("lb")),
        Seq("doc_b"), "left")
      .select(coalesce(col("la"), col("doc_a")).as("src"),
        coalesce(col("lb"), col("doc_b")).as("dst"))
      .filter(col("src") =!= col("dst")) // intra-component delta edges
    val merged = connectedComponents(cEdges)
      .select(col("id").as("node"), col("label").as("m"))
      .localCheckpoint(eager = false)
    // relabel old members through their label's merge (if any); add
    // the contracted nodes that are docs themselves (new docs, touched
    // old singletons) — old-label nodes are already members of their
    // own components and covered by the first branch
    val oldFinal = oldLabels
      .join(merged, oldLabels("label") === merged("node"), "left")
      .select(col("id"), coalesce(col("m"), col("label")).as("label"))
    val docNodes = merged
      .join(oldLabels.select(col("id")), merged("node") === col("id"),
        "left_anti")
      .select(col("node").as("id"), col("m").as("label"))
    oldFinal.unionByName(docNodes)
      .groupBy(col("label").as("cluster"))
      .agg(count(lit(1)).as("n_docs"), max(col("id")).as("max_doc"))
      .orderBy(col("cluster"))
  }

  /** The full curation pipeline END-TO-END — quality gate → exact
    * dedup → near dedup → decontamination — as one attrition report:
    * what a training-data run publishes after each stage (q193 is the
    * quality-gates-only waterfall; this one composes the DEDUP tiers
    * and the eval screen in their production order, each stage
    * consuming the previous stage's survivors).
    *
    * Stage semantics (each an operator already proven standalone):
    *  1. quality_length — Gopher token-count gate (20..100k), q115.
    *  2. exact_dedup    — keep the min doc_id per content
    *                      fingerprint among survivors (q24's key).
    *  3. near_dedup     — MinHash pairs → connected components →
    *                      drop non-canonical members (q25 + q69).
    *  4. decontamination — drop survivors sharing an 8-gram with the
    *                      held-out split (q113's screen; eval is the
    *                      doc_id % 10 == 0 split, input is the rest).
    * The five stage counts run as ONE union-of-tagged-branches
    * aggregate (a single job over metadata-sized branches — not five
    * sequential driver actions); every heavy step is the banded/keyed
    * shuffle plan of its standalone query, so the composition scales
    * exactly as its parts do. At 100 TB each stage's survivors would
    * persist to parquet between stages; the lazy checkpoints here are
    * the in-plan form of that handoff. */
  def q209CurationPipeline(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val all = Tables.documents(spark, dir)
    val train = all.filter(col("doc_id") % 10 =!= 0)
      .select(col("doc_id"), col("text"))
    val s1 = train.filter(size(words(col("text"))).between(20, 100000))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(Cols.fingerprint(col("text")))
    val s2 = s1.withColumn("min_id", min(col("doc_id")).over(w))
      .filter(col("doc_id") === col("min_id"))
      .select(col("doc_id"), col("text"))
      .localCheckpoint(eager = false) // pairing + anti-join + count
    val drop3 = connectedComponents(
        minhashPairs(s2).select(col("doc_a"), col("doc_b")))
      .filter(col("id") =!= col("label"))
      .select(col("id").as("doc_id"))
    val s3 = s2.join(drop3, Seq("doc_id"), "left_anti")
      .localCheckpoint(eager = false)
    val gramSql =
      "array_distinct(transform(sequence(0, size(w) - 8), " +
        "i -> array_join(slice(w, i + 1, 8), ' ')))"
    def grams(df: DataFrame) = df
      .select(col("doc_id"), words(col("text")).as("w"))
      .filter(size(col("w")) >= 8)
      .select(col("doc_id"), explode(expr(gramSql)).as("gram"))
    val evalGrams = grams(all.filter(col("doc_id") % 10 === 0))
      .select(col("gram")).distinct()
    val contaminated = grams(s3).join(evalGrams, "gram")
      .select(col("doc_id")).distinct()
    val s4 = s3.join(contaminated, Seq("doc_id"), "left_anti")
    // ONE counting job: each stage frame contributes a tagged
    // single-literal column (pruning drops everything else from the
    // branch scans), the union groups by tag, and the checkpointed
    // shared prefixes (s2, s3) materialize once and feed every later
    // branch — five sequential driver count() actions collapse into
    // one aggregate of five metadata-sized branches
    val byStage = train.select(lit(0).as("s"))
      .unionAll(s1.select(lit(1).as("s")))
      .unionAll(s2.select(lit(2).as("s")))
      .unionAll(s3.select(lit(3).as("s")))
      .unionAll(s4.select(lit(4).as("s")))
      .groupBy(col("s")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    def n(k: Int): Long = byStage.getOrElse(k, 0L)
    Seq(
      (1, "quality_length", n(0), n(0) - n(1), n(1)),
      (2, "exact_dedup", n(1), n(1) - n(2), n(2)),
      (3, "near_dedup", n(2), n(2) - n(3), n(3)),
      (4, "decontamination", n(3), n(3) - n(4), n(4)))
      .toDF("stage", "gate", "n_entering", "n_dropped", "n_surviving")
      .orderBy(col("stage"))
  }

  /** Per-node triangle counts over the near-dup graph — the density
    * diagnostic that separates clique-like dup clusters (true
    * re-posts: every copy pairs with every other) from chain-like
    * ones (drifting template edits), which need different keep-one
    * strategies. Completes the graph family: components (q69),
    * PageRank (q150), BFS (q125), triangles here.
    *
    * Shape: the standard two-join enumeration over the a<b<c oriented
    * edge list (minhashPairs already emits doc_a < doc_b) — each
    * triangle materializes exactly once, work is bounded by
    * wedge counts (Σ deg²), never all-triples; the closing-edge check
    * is an equi-join. Per-node credit explodes each triangle to its
    * three corners. Degree-ordering the orientation (the classic
    * heavy-hitter defense) is implemented as
    * [[triangleCountsDegreeOrdered]] (q212, same oracle); near-dup
    * clusters are small and dense, where a<b<c is already balanced,
    * so this id-oriented form stays the default. */
  def q204Triangles(spark: SparkSession, dir: String): DataFrame =
    triangleCounts(
      minhashPairs(Tables.documents(spark, dir))
        .select(col("doc_a"), col("doc_b")))
      .orderBy(col("doc_id"))

  /** q204 with the DEGREE-ORDERED orientation — the skew defense for
    * power-law graphs, producing bit-identical counts (same oracle as
    * q204). Each undirected edge points from its lower-(degree, id)
    * endpoint to the higher one, so every wedge is enumerated at its
    * LOWEST-degree corner: per-node wedge work drops from deg² to
    * (out-deg)² where out-deg is bounded by O(√|E|) for any graph — a
    * 10M-degree hub in an id-oriented enumeration would otherwise
    * build 10¹⁴ wedges on one key. Near-dup graphs are benign, but a
    * citation/link graph run through the same triangle diagnostic is
    * exactly where the hub case is real. */
  def q212TrianglesDegree(spark: SparkSession, dir: String): DataFrame =
    triangleCountsDegreeOrdered(
      minhashPairs(Tables.documents(spark, dir))
        .select(col("doc_a"), col("doc_b")))
      .orderBy(col("doc_id"))

  /** Per-node (degree, triangle count) over an a<b oriented edge
    * list — the reusable core of q204 (unordered, like
    * [[minhashPairs]]; display callers sort). */
  def triangleCounts(pairs: DataFrame): DataFrame = {
    val e = pairs.toDF("doc_a", "doc_b")
      .localCheckpoint(eager = false) // three self-join consumers
    val tri = e.as("e1")
      .join(e.as("e2"), col("e1.doc_b") === col("e2.doc_a"))
      .select(col("e1.doc_a").as("a"), col("e1.doc_b").as("b"),
        col("e2.doc_b").as("c"))
      .join(e.select(col("doc_a").as("a"), col("doc_b").as("c")),
        Seq("a", "c"))
    val deg = e.select(col("doc_a").as("doc_id"))
      .unionAll(e.select(col("doc_b").as("doc_id")))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("degree"))
    val triPerNode = tri
      .select(explode(array(col("a"), col("b"), col("c"))).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_triangles"))
    deg.join(triPerNode, Seq("doc_id"), "left")
      .select(col("doc_id"), col("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
  }

  /** [[triangleCounts]] with edges oriented by (degree, id) instead of
    * raw id — identical output (DedupSpec pins equality on a fixture
    * with a hub AND on the testdata graph), different work bound.
    * Every triangle still materializes exactly once: orientation by
    * any strict total order guarantees a unique lowest corner per
    * triangle, and (degree, id) is a strict total order because id
    * breaks degree ties. Wedges form only at a node's OUT-edges
    * (toward higher-rank endpoints), and out-degree under degree
    * ordering is O(√|E|) for every node — the hub's million edges are
    * almost all IN-edges, so no reducer key ever sees the hub's full
    * neighborhood. Costs one extra broadcast-shaped join (attaching
    * endpoint degrees) over the id-oriented form. */
  def triangleCountsDegreeOrdered(pairs: DataFrame): DataFrame = {
    val e = pairs.toDF("doc_a", "doc_b")
      .localCheckpoint(eager = false)
    val deg = e.select(col("doc_a").as("doc_id"))
      .unionAll(e.select(col("doc_b").as("doc_id")))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("degree"))
      .localCheckpoint(eager = false) // reused: orientation + output
    // attach endpoint degrees, then orient low-(degree,id) -> high;
    // carry the head's rank so wedge mates can be ordered without a
    // third join
    val oriented = e
      .join(deg.select(col("doc_id").as("doc_a"), col("degree").as("da")),
        "doc_a")
      .join(deg.select(col("doc_id").as("doc_b"), col("degree").as("db")),
        "doc_b")
      .select(
        when(struct(col("da"), col("doc_a")) < struct(col("db"), col("doc_b")),
          struct(col("doc_a").as("src"), col("doc_b").as("dst"),
            col("db").as("ddeg")))
          .otherwise(struct(col("doc_b").as("src"), col("doc_a").as("dst"),
            col("da").as("ddeg")))
          .as("o"))
      .select(col("o.src"), col("o.dst"), col("o.ddeg"))
      .localCheckpoint(eager = false) // three self-join consumers
    // wedges at the lowest-rank corner: two out-edges, mates ordered
    // by (degree, id) so each wedge forms once; the closing edge is
    // oriented b -> c by transitivity of the rank order
    val tri = oriented.as("e1")
      .join(oriented.as("e2"),
        col("e1.src") === col("e2.src") &&
          (struct(col("e1.ddeg"), col("e1.dst"))
            < struct(col("e2.ddeg"), col("e2.dst"))))
      .select(col("e1.src").as("a"), col("e1.dst").as("b"),
        col("e2.dst").as("c"))
      .join(oriented.select(col("src").as("b"), col("dst").as("c")),
        Seq("b", "c"))
    val triPerNode = tri
      .select(explode(array(col("a"), col("b"), col("c"))).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_triangles"))
    deg.join(triPerNode, Seq("doc_id"), "left")
      .select(col("doc_id"), col("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
  }

  /** Corpus duplication profile — the document-granular form of the
    * exact-substring-duplication diagnostic a curation run publishes
    * BEFORE deciding thresholds: for every document, the fraction of
    * its distinct 8-grams that also occur in at least one other
    * document. (q113 compares train against a held-out set; this is
    * the corpus against itself, and it reports a per-doc ratio rather
    * than flagging pairs like q68.)
    *
    * Shape: inverted index (doc, gram) → each gram's document
    * frequency as a COUNT over the gram window partition (grams are
    * pre-deduplicated per doc, so the partition size IS the doc
    * frequency) → per-doc ratio. The window formulation matters at
    * scale: the agg-then-join-back alternative scans and explodes the
    * corpus TWICE and shuffles the gram table twice; this is one
    * explode pass, one gram-keyed exchange, one doc-keyed aggregate.
    * Nothing is broadcast and nothing is quadratic. */
  def q198DupGramProfile(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), words(col("text")).as("w"))
      .filter(size(col("w")) >= 8)
    val gramSql =
      "array_distinct(transform(sequence(0, size(w) - 8), " +
        "i -> array_join(slice(w, i + 1, 8), ' ')))"
    val grams = docs
      .select(col("doc_id"), explode(expr(gramSql)).as("gram"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("gram"))
    grams.withColumn("df", count(lit(1)).over(w))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_dup_grams"))
      .withColumn("dup_ratio", round(
        col("n_dup_grams").cast("double") / col("n_grams").cast("double"),
        9))
      .orderBy(col("doc_id"))
  }

  /** Dedup threshold sensitivity sweep — the tuning report run before
    * committing a verify cut-off: over the SAME banded candidate set
    * production uses ([[minhashCandidatesScored]]), how many pairs
    * survive and how many documents get flagged for drop at each
    * candidate threshold? (doc_b is the dropped side under the
    * keep-lowest-id pair policy, so distinct doc_b counts flagged
    * docs.) One extra exchange over q25: the candidate pairs — already
    * band-bounded, NOT corpus-sized — explode by the 5-row threshold
    * grid and re-aggregate; the corpus itself is still scanned once,
    * through the shared shingle/band plan. */
  def q223ThresholdSweep(spark: SparkSession, dir: String): DataFrame = {
    val thresholds = Seq(0.5, 0.6, 0.7, 0.8, 0.9)
    minhashCandidatesScored(Tables.documents(spark, dir))
      .select(col("doc_a"), col("doc_b"), col("jaccard"),
        explode(array(thresholds.map(lit): _*)).as("threshold"))
      .filter(col("jaccard") >= col("threshold"))
      .groupBy(col("threshold"))
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("doc_b")).as("n_docs_flagged"))
      .orderBy(col("threshold"))
  }

  /** Quality x duplication interaction — the curation diagnostic that
    * decides whether near-dedup can piggyback on the quality filter
    * (if dup docs are overwhelmingly low-quality, the quality gate
    * already removes most of them; if not, both passes must run). Per
    * q33 quality bucket: total docs, docs that appear in at least one
    * verified near-dup pair, and the dup rate.
    *
    * The dup-doc side is pair-explode + distinct over the band-bounded
    * pair set — tiny relative to the corpus — so the attach-back is a
    * broadcast semi-ish left join against the corpus-sized quality
    * frame, never a corpus x corpus shuffle. Rate is an exact-count
    * ratio → deterministic double. */
  def q224QualityDupRate(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val quality = TextStats.qualityScored(docs)
      .select(col("doc_id"), col("quality"))
    val dupDocs = minhashPairs(docs)
      .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .distinct()
      .withColumn("is_dup", lit(1L))
    quality.join(broadcast(dupDocs), Seq("doc_id"), "left")
      .groupBy(col("quality"))
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(col("is_dup"), lit(0L))).as("n_dup_docs"))
      .withColumn("dup_rate",
        col("n_dup_docs").cast("double") / col("n_docs").cast("double"))
      .orderBy(col("quality"))
  }

  /** MinHash estimator calibration certificate — the sketch-quality
    * report that justifies the signature length: for every banded
    * candidate pair, the signature-agreement estimate (matching
    * seeds / 16) next to the exact verified Jaccard, grouped by
    * agreement count. A healthy sketch shows avg exact Jaccard tracking
    * the estimate; a broken hash or band wiring shows up as a flat or
    * inverted profile. Complements q213 (which certifies band RECALL
    * against the cosine anchor; this certifies the ESTIMATOR itself).
    *
    * The exact-Jaccard average is summed in integer micro-units
    * (round(j*1e6) per pair) so the per-bucket mean is an exact
    * integer ratio — no float-summation order dependence between
    * engines or partitionings. Work is bounded by the candidate set;
    * the signature re-join adds two hash joins on the pair table, not
    * a corpus rescan of text. */
  def q226MinhashCalibration(spark: SparkSession, dir: String): DataFrame = {
    val docs = shingled(Tables.documents(spark, dir))
    // signatures computed ONCE; bands derive from this same frame (the
    // band self-join and the two sig re-joins are reused subplans, not
    // fresh text scans)
    val sigs = docs.select(col("doc_id"),
      graft.functions.TextExprs.minhashSigs(col("sh"), 16).as("sig"))
    val bands = sigs.select(col("doc_id"), expr(bandExplodeSql).as("bk"))
      .select(col("doc_id"), col("bk.band"), col("bk.band_key"))
    val cand = bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") &&
          col("a.band_key") === col("b.band_key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val matches = size(filter(
      zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y),
      b => b))
    cand
      .join(sigs.select(col("doc_id").as("doc_a"), col("sig").as("sig_a")),
        "doc_a")
      .join(sigs.select(col("doc_id").as("doc_b"), col("sig").as("sig_b")),
        "doc_b")
      .join(docs.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")),
        "doc_a")
      .join(docs.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")),
        "doc_b")
      .select(
        graft.functions.TextExprs.jaccard(col("sh_a"), col("sh_b"))
          .as("jaccard"),
        matches.cast("int").as("n_sig_matches"))
      .groupBy(col("n_sig_matches"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(round(col("jaccard") * 1e6).cast("long")).as("sum_micro"))
      .select(col("n_sig_matches"),
        (col("n_sig_matches").cast("double") / lit(16.0d)).as("est_jaccard"),
        col("n_pairs"),
        (col("sum_micro").cast("double") /
          (lit(1e6) * col("n_pairs").cast("double")))
          .as("avg_exact_jaccard"))
      .orderBy(col("n_sig_matches"))
  }

  /** Duplication-downweighting ledger — the alternative to dropping
    * near-dups (q141): keep every copy but weight each cluster's
    * docs by 1/k, the mixture policy several pre-training recipes use
    * for mild duplication. Per cluster size k: cluster count, doc
    * count, raw token mass, the keep-one token mass (representative =
    * min doc_id, the CC label), and the effective token mass under
    * 1/k weighting — an exact integer-over-k ratio, so the double is
    * bitwise-deterministic.
    *
    * Scale shape: the CC label table covers ONLY docs in >=1 banded
    * pair — pair-bounded, broadcastable — so singleton docs (the
    * overwhelming corpus majority at any scale) never enter a
    * cluster shuffle: they reduce in ONE map-side-partial global
    * aggregate, and only the pair-bounded labeled slice pays a
    * groupBy(cluster) exchange. A naive coalesce(label, doc_id)
    * grouping would shuffle the whole corpus on a unique-per-row key;
    * this plan shuffles the ~0.x% that dedup actually touched. */
  def q229ClusterDownweight(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val toks = docs.select(col("doc_id"),
      size(split(graft.functions.Cols.normText(col("text")), " "))
        .cast("long").as("tokens"))
    val labels = connectedComponents(
      minhashPairs(docs).select(col("doc_a"), col("doc_b")))
      .select(col("id").as("doc_id"), col("label"))
    clusterDownweightFrom(toks, labels)
  }

  /** q229's ledger over prepared (doc_id, tokens) and (doc_id, label)
    * frames — split out so compositions (q240) can stage both once and
    * reuse them across report sections. */
  private[graft] def clusterDownweightFrom(toks: DataFrame,
      labels: DataFrame): DataFrame = {
    // the broadcast hint here trades against the q275/q284 rule (a CC
    // label frame approaches corpus size on a duplication-heavy
    // corpus) to keep ScaleSpec's contract that the CORPUS side never
    // shuffles on doc_id; on a corpus where the labeled fraction is
    // large, drop the hint and accept the doc_id exchange instead
    val labeled = toks.join(broadcast(labels), Seq("doc_id"), "left")
    val paired = labeled.filter(col("label").isNotNull)
      .groupBy(col("label"))
      .agg(count(lit(1)).as("k"), sum(col("tokens")).as("cluster_tokens"),
        max(when(col("doc_id") === col("label"), col("tokens")))
          .as("rep_tokens"))
      .groupBy(col("k").as("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"),
        sum(col("cluster_tokens")).as("tokens_total"),
        sum(col("rep_tokens")).as("tokens_keep_one"))
    val singletons = labeled.filter(col("label").isNull)
      .agg(lit(1L).as("cluster_size"), count(lit(1)).as("n_clusters"),
        sum(col("tokens")).as("tokens_total"),
        sum(col("tokens")).as("tokens_keep_one"))
    singletons.union(paired)
      .select(col("cluster_size"), col("n_clusters"),
        (col("cluster_size") * col("n_clusters")).as("n_docs"),
        col("tokens_total"), col("tokens_keep_one"),
        (col("tokens_total").cast("double") /
          col("cluster_size").cast("double")).as("tokens_effective"))
      .orderBy(col("cluster_size"))
  }

  /** q275: effective language mixture after duplication downweighting
    * — what q229's 1/k ledger DOES to the corpus composition. Every
    * doc in a near-dup cluster of size k contributes tokens/k
    * effective mass; the report compares each language's raw token
    * share against its effective share, and `share_shift` is the
    * number a mixture owner reads: a language whose content is
    * heavily duplicated loses share once duplication stops counting,
    * and re-weighting (q142/q251) must start from the EFFECTIVE
    * shares, not the raw ones.
    *
    * Scale shape: singletons never enter a cluster shuffle; the
    * corpus reduces in ONE (lang, k) aggregate. Per-(lang,k) masses stay exact BIGINTs;
    * tokens/k rounds to 9 and decimal-sums, so effective mass is
    * order-independent; totals attach as a broadcast 1-row frame. */
  def q275EffectiveMixture(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val toks = docs.select(col("doc_id"), col("lang"),
      size(split(graft.functions.Cols.normText(col("text")), " "))
        .cast("long").as("tokens"))
    val labels = connectedComponents(
      minhashPairs(docs).select(col("doc_a"), col("doc_b")))
      .select(col("id").as("doc_id"), col("label"))
    val sizes = labels.groupBy(col("label")).agg(count(lit(1)).as("k"))
    // no broadcast hints: on a duplication-heavy corpus the labeled-doc
    // set is a large fraction of the corpus, not "pair-bounded" — the
    // q284 rule applies and AQE decides (it still broadcasts at test SF)
    val byLangK = toks
      .join(labels, Seq("doc_id"), "left")
      .join(sizes, Seq("label"), "left")
      .withColumn("k", coalesce(col("k"), lit(1L)))
      .groupBy(col("lang"), col("k"))
      .agg(count(lit(1)).as("n"), sum(col("tokens")).as("tok"))
    val perLang = byLangK.groupBy(col("lang"))
      .agg(sum(col("n")).as("n_docs"), sum(col("tok")).as("raw_tokens"),
        sum(round(col("tok").cast("double") / col("k").cast("double"), 9)
          .cast("decimal(28,9)")).as("eff_dec"))
    val totals = perLang.agg(sum(col("raw_tokens")).as("raw_total"),
      sum(col("eff_dec")).as("eff_total"))
    perLang.crossJoin(broadcast(totals))
      .withColumn("raw_share",
        round(col("raw_tokens").cast("double") /
          col("raw_total").cast("double"), 9))
      .withColumn("eff_share",
        round(col("eff_dec").cast("double") /
          col("eff_total").cast("double"), 9))
      .select(col("lang"), col("n_docs"), col("raw_tokens"),
        round(col("eff_dec").cast("double"), 9).as("eff_tokens"),
        col("raw_share"), col("eff_share"),
        round(col("eff_share") - col("raw_share"), 9).as("share_shift"))
      .orderBy(col("lang"))
  }

  /** q279: deletion propagation with residual certificates — the
    * GDPR/takedown operation a lake owner actually runs: a deletion
    * set (here the deterministic doc_id % 101 slice) must vanish not
    * just from the corpus but from every DERIVED artifact — the
    * MinHash band index (q211's shape), the chunk table (q263), and
    * the near-dup cluster labels. Per artifact the report carries
    * rows before/deleted/after, `residual_refs` — for the REBUILDABLE
    * artifacts (bands, chunks) this is a genuine independence check:
    * the propagated artifact is diffed row-by-row (symmetric
    * exceptAll) against the same artifact RE-DERIVED from the kept
    * corpus text, so a propagation bug that dropped too little, too
    * much, or corrupted surviving rows would surface as a nonzero
    * count — the certificate can actually fail (the q227 discipline:
    * certify the result, don't trust the plan). For `corpus` the diff
    * target is the kept corpus itself (the check is definitionally
    * zero — documented tautology); for `labels` a re-derivation would
    * be the full CC recompute q242 exists to avoid, so its real check
    * is `n_stale`: kept label rows whose cluster REPRESENTATIVE was
    * deleted — propagation can drop the deleted doc's rows but cannot
    * fix a min-label naming a dead doc, so those clusters are flagged
    * for the next incremental CC run (q242) rather than silently kept.
    *
    * Scale shape: each artifact pays one broadcast anti-join against
    * the (tiny) deletion set and one count aggregate; the band/chunk
    * re-derivations add one narrow pass over the kept corpus each and
    * an artifact-keyed exceptAll exchange — the price of a
    * certificate that is evidence, not tautology (run it as the
    * post-deletion validation pass, not on the serving path). Nothing
    * recomputes pairs or clusters. */
  def q279DeletionPropagation(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val del = docs.filter(col("doc_id") % 101L === 0L)
      .select(col("doc_id")).localCheckpoint(eager = false)
    val keptDocs = docs.join(broadcast(del), Seq("doc_id"), "left_anti")
      .localCheckpoint(eager = false) // feeds corpus audit + rebuilds
    // rebuilt = the artifact re-derived from kept corpus text; the
    // certificate is |kept ∆ rebuilt| == 0, counted via both exceptAlls
    def audit(name: String, df: DataFrame, rebuilt: DataFrame,
        stale: DataFrame): DataFrame = {
      val kept = df.join(broadcast(del), Seq("doc_id"), "left_anti")
        .localCheckpoint(eager = false)
      // |kept ∆ rebuilt| as one grouped pass per side (r15 opt) —
      // Σ|count_kept − count_rebuilt| equals the two exceptAll
      // cardinalities summed, at half the scans of each input
      val residual = graft.Certs.symmetricDiffCount(kept, rebuilt,
        "residual_refs")
      df.agg(count(lit(1)).as("rows_before"))
        .crossJoin(kept.agg(count(lit(1)).as("rows_after")))
        .crossJoin(residual)
        .crossJoin(stale.agg(count(lit(1)).as("n_stale")))
        .select(lit(name).as("artifact"), col("rows_before"),
          (col("rows_before") - col("rows_after")).as("rows_deleted"),
          col("rows_after"), col("residual_refs"), col("n_stale"))
    }
    val none = docs.limit(0).select(col("doc_id"))
    // ONE shingle pin feeds the pairing AND the bands audit below
    // (r16: minhashPairs(docs) + bandTable(shingled(docs)) each built
    // their own identical checkpoint of the shingle subtree)
    val sh = shingled(docs)
    val labels = connectedComponents(
      minhashPairsOf(sh).select(col("doc_a"), col("doc_b")))
      .select(col("id").as("doc_id"), col("label"))
      .localCheckpoint(eager = false) // audited AND diff-targeted below
    // stale = kept label rows whose representative (min-label) is dead
    val staleLabels = labels
      .join(broadcast(del), Seq("doc_id"), "left_anti")
      .join(broadcast(del.withColumnRenamed("doc_id", "label")),
        Seq("label"))
    // labels' diff target is the kept rows themselves (see scaladoc);
    // bands/chunks re-derive from keptDocs — the non-trivial checks
    val keptLabels = labels.join(broadcast(del), Seq("doc_id"), "left_anti")
    audit("bands", bandTable(sh),
        bandTable(shingled(keptDocs)), none)
      .unionByName(audit("chunks", Sampling.docChunks(docs),
        Sampling.docChunks(keptDocs), none))
      .unionByName(audit("corpus", docs, keptDocs, none))
      .unionByName(audit("labels", labels, keptLabels, staleLabels))
      .orderBy(col("artifact"))
  }

  /** q289: EXACT set-similarity self-join via prefix filtering (the
    * AllPairs/PPJoin family) — every document pair with shingle
    * Jaccard ≥ 0.8, with NO probabilistic recall loss. This is the
    * deterministic alternative to MinHash banding: order the
    * vocabulary rarest-first (df asc, shingle asc — a global total
    * order), give each doc a PREFIX of its first |sh| − ⌈0.8·|sh|⌉ +
    * 1 tokens under that order, and join prefix-to-prefix. The
    * smallest common token of any qualifying pair provably lands in
    * BOTH prefixes (o ≥ ⌈t·|A|⌉ common tokens, and at most o−1 follow
    * it in either set), so candidate generation is recall-COMPLETE —
    * the oracle is the naive all-pairs definition and the result
    * EQUALS it.
    *
    * Scale shape: one token-keyed exchange attaches df, one per-doc
    * sort builds the prefix (array_sort over the doc's own tokens,
    * bounded by doc length), and the candidate join keys on prefix
    * tokens — the rarest tokens in the corpus, so bucket fan-out is
    * df-bounded exactly where df is smallest. Exact verify prunes the
    * survivors. Candidate volume vs the banded tier is the measured
    * trade q290 reports. */
  def q289PrefixJaccardJoin(spark: SparkSession, dir: String): DataFrame =
    exactJaccardPairs(Tables.documents(spark, dir))
      .orderBy(col("doc_a"), col("doc_b"))

  /** The prefix-filtered exact J ≥ 0.8 pair set (doc_a < doc_b,
    * jaccard) — shared by q289 and the recall measurement (q290). */
  private[graft] def exactJaccardPairs(documents: DataFrame): DataFrame =
    exactJaccardPairsOf(shingled(documents))

  /** [[exactJaccardPairs]] body over a pre-shingled frame — the
    * sharing hook for the recall certificates (q290/q297), whose
    * banded/sketch side consumes the same shingle table: one pin
    * feeds both pair relations (guide §2.4). */
  private[graft] def exactJaccardPairsOf(shingledDocs: DataFrame)
      : DataFrame = {
    val docs = shingledDocs
    val dfTab = docs.select(explode(col("sh")).as("s"))
      .groupBy(col("s")).agg(count(lit(1)).as("df"))
    val prefix = docs
      .select(col("doc_id"), size(col("sh")).as("n"),
        explode(col("sh")).as("s"))
      .join(dfTab, "s")
      .groupBy(col("doc_id"), col("n"))
      .agg(array_sort(collect_list(struct(col("df"), col("s"))))
        .as("ord"))
      // ceil(0.8·n) = (4n+4) div 5 in pure integer arithmetic;
      // posexplode keeps each prefix token's 1-based POSITION in the
      // doc's global (df asc, shingle asc) token order — the extra
      // column the positional filter below needs
      .select(col("doc_id"), col("n"),
        posexplode(expr("slice(ord, 1, n - ((4 * n + 4) div 5) + 1)")))
      .select(col("doc_id"), col("n"), (col("pos") + 1).as("pos"),
        col("col.s").as("s"))
      // pinned (r15 opt): both sides of the candidate self-join read
      // this frame — un-pinned, the df-attach join + per-doc ordering
      // ran TWICE (measured ~40% of q289's wall); the prefix table is
      // corpus-linear (≈ n/5 + 1 rows per doc), safe to materialize
      .localCheckpoint(eager = false)
    // Two more recall-complete prunes inside the join predicate, both
    // pure integer arithmetic:
    //  - size filter: J ≥ t forces min(n_a,n_b)/max(n_a,n_b) ≥ t —
    //    integer form of 0.8 ≤ n_a/n_b ≤ 1.25;
    //  - positional filter (PPJoin): J ≥ t ⟺ o ≥ t/(1+t)·(n_a+n_b)
    //    (= 4(n_a+n_b)/9 at t = 0.8), and a common token at positions
    //    (i, j) of the two ordered sets bounds the overlap by
    //    1 + min(n_a−i, n_b−j) (everything shared beyond this token
    //    sits in BOTH suffixes). For a qualifying pair the FIRST
    //    common token under the global order meets the bound (all o
    //    common tokens sit at or after it in both sets), so keeping a
    //    pair when ANY matching prefix token meets it loses nothing —
    //    but kills the candidates that only share deep-prefix tokens
    //    with short suffixes, BEFORE the distinct + exact verify pay
    //    for them. Integer form: 9·(1 + min(n_a−i, n_b−j)) ≥
    //    4·(n_a+n_b).
    val cand = prefix.as("a")
      .join(prefix.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id") &&
          col("b.n") * 5 >= col("a.n") * 4 &&
          col("a.n") * 5 >= col("b.n") * 4 &&
          (lit(1) + least(col("a.n") - col("a.pos"),
            col("b.n") - col("b.pos"))) * 9 >=
            (col("a.n") + col("b.n")) * 4)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.n").as("na"), col("b.n").as("nb"))
      .distinct()
    // COUNTING pre-verify (r16 opt, recall-COMPLETE): position/size
    // bounds saturate on a duplication-heavy corpus (measured at
    // sf0.1: 667k distinct candidates survive them for 256 true
    // pairs, and the array verify was ~half the query's wall). Hash
    // every shingle to one of 64 bins and keep the per-doc bin
    // HISTOGRAM h (64 ints, corpus-linear like the prefix table).
    // For any pair, the common tokens hashing to bin b are a subset
    // of each side's bin-b tokens, so |A∩B| ≤ Σ_b min(hA[b], hB[b]);
    // J ≥ 0.8 needs 9·|A∩B| ≥ 4·(n_a+n_b), so a pair whose bound
    // fails 9·Σmin ≥ 4·(n_a+n_b) provably fails the threshold — the
    // filter can only drop non-qualifying pairs (no recall loss; the
    // exact verify below still adjudicates every survivor). On the
    // bimodal near-dup corpora this tier targets (J < 0.2 noise vs
    // J ≥ 0.8 dups) the bound is decisive: 667k → 256 measured.
    // r16: both halves of the bound run as native expressions
    // (graft.functions.TextExprs) with identical values — the HOF
    // forms hashed every shingle 64× (one filter pass per bin) and
    // paid an interpreted 64-element fold per candidate; see
    // ShingleBinHist / IntVecMinSum scaladocs for the parity argument
    val hist = docs.select(col("doc_id"),
      graft.functions.TextExprs.shingleBinHist64(col("sh")).as("h"))
    val bounded = cand
      .join(hist.select(col("doc_id").as("doc_a"), col("h").as("ha")),
        "doc_a")
      .join(hist.select(col("doc_id").as("doc_b"), col("h").as("hb")),
        "doc_b")
      .filter(graft.functions.TextExprs.intVecMinSum(col("ha"),
        col("hb")) * 9 >= (col("na") + col("nb")) * 4)
      .select(col("doc_a"), col("doc_b"))
    bounded
      .join(docs.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")),
        "doc_a")
      .join(docs.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")),
        "doc_b")
      .select(col("doc_a"), col("doc_b"),
        round(graft.functions.TextExprs.jaccard(col("sh_a"), col("sh_b")),
          9).as("jaccard"))
      .filter(col("jaccard") >= 0.8)
  }

  /** q290: MEASURED banding recall — the empirical S-curve. q226
    * calibrates the MinHash estimator and q213 certifies banded
    * retrieval against a cosine anchor; this closes the loop on the
    * dedup tier itself: with q289's exact J ≥ 0.8 relation as ground
    * truth, count per Jaccard band (0.05-wide) how many true pairs
    * the 16-sig/4-band MinHash pipeline (q25) actually surfaced.
    * Banding theory says P(candidate) = 1−(1−s⁴)⁴ ≈ 0.93 at s = 0.8
    * and → 1 as s → 1; the measured per-band recall is the number a
    * dedup owner quotes when asked "what does the banded tier miss".
    *
    * Scale shape: both pair sets are banded/prefix-bounded joins
    * (nothing quadratic); the comparison is a pair-keyed left join
    * aggregated to ≤ 4 band rows. The banded relation joins WITHOUT a
    * broadcast hint: candidate-pair frames grow quadratically in
    * cluster size on a duplication-heavy corpus — the one frame class
    * the repo's broadcast convention excludes — so the pair-keyed
    * shuffle join (one exchange of each side) is the scale-safe shape
    * and AQE still broadcasts at small SF. */
  def q290BandRecallMeasured(spark: SparkSession, dir: String): DataFrame = {
    // ONE shingle pin feeds both pair relations (r16: the two operator
    // calls each built their own identical checkpoint of the
    // normalize+shingle subtree — a full duplicated corpus pass)
    val sh = shingled(Tables.documents(spark, dir))
    val exact = exactJaccardPairsOf(sh)
      .withColumn("band",
        least(floor(col("jaccard") * 20.0d).cast("long"), lit(19L)))
    val banded = minhashPairsOf(sh)
      .select(col("doc_a"), col("doc_b"), lit(1L).as("found"))
    exact.join(banded, Seq("doc_a", "doc_b"), "left")
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_exact"),
        sum(coalesce(col("found"), lit(0L))).as("n_found"))
      .select((col("band").cast("double") / 20.0d).as("band_lo"),
        col("n_exact"), col("n_found"),
        round(col("n_found").cast("double") /
          col("n_exact").cast("double"), 9).as("recall"))
      .orderBy(col("band_lo"))
  }

  /** The md5-portable SimHash pair set — [[simhashPairs]]' exact
    * structure (4×16-bit-chunk pigeonhole candidates, hamming ≤ 3
    * verify) with the per-token hash swapped to
    * [[graft.functions.TextExprs.simhashMd5]] so every bit of the
    * sketch, every chunk key, and every hamming distance is derivable
    * by the DuckDB oracle. Shared by the recall certificate (q297). */
  private[graft] def simhashMd5Pairs(documents: DataFrame): DataFrame = {
    val docs = documents
      .repartition(documents.sparkSession.sparkContext.defaultParallelism)
      .select(col("doc_id"), words(col("text")).as("w"))
      .filter(size(col("w")) >= 1)
    val sketched = docs.select(col("doc_id"),
      graft.functions.TextExprs.simhashMd5(col("w")).as("simhash"))
    val chunks = sketched.select(col("doc_id"), col("simhash"), expr(
      "explode(transform(sequence(0, 3), c -> struct(" +
        "cast(c as int) as chunk, " +
        "shiftright(simhash, c * 16) & 65535L as chunk_val)))").as("ck"))
      .select(col("doc_id"), col("simhash"), col("ck.chunk"),
        col("ck.chunk_val"))
    chunks.as("a")
      .join(chunks.as("b"),
        col("a.chunk") === col("b.chunk") &&
          col("a.chunk_val") === col("b.chunk_val") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash")))
          .as("hamming"))
      .distinct()
      .filter(col("hamming") <= 3)
  }

  /** q297: MEASURED SimHash recall — the q290 pattern applied to the
    * SimHash tier, closing the last no-oracle dedup row that had an
    * exact twin but no measured certificate: with q289's exact
    * J ≥ 0.8 relation as ground truth, count per Jaccard band
    * (0.05-wide) how many true near-dup pairs the 64-bit
    * SimHash + hamming ≤ 3 tier surfaces. SimHash detects ANGULAR
    * closeness of token-frequency vectors, not set overlap, so its
    * S-curve against a Jaccard anchor is structurally weaker than
    * MinHash banding's (q290) — THAT gap, quantified per band, is
    * exactly the number a curation owner needs before substituting
    * the cheaper sketch (1 long/doc vs 16 md5 mins/doc) for the
    * banded tier. The sketch here is the md5-portable variant
    * ([[simhashMd5Pairs]]), so BOTH sides of the recall fraction are
    * hash-verified — a sketch regression fails CORRECTNESS, not just
    * a spec floor; q26's xxhash64 sketch remains the production tier.
    *
    * Scale shape: the exact side is the prefix-filtered join (never
    * all-pairs), the SimHash side is one narrow sketch pass + the
    * pigeonhole join (bucket-population-bounded), and the comparison
    * is a pair-keyed left join aggregated to ≤ 4 band rows — no
    * broadcast hints on either pair relation (the q290 rule). */
  def q297SimhashRecall(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val exact = exactJaccardPairs(docs)
      .withColumn("band",
        least(floor(col("jaccard") * 20.0d).cast("long"), lit(19L)))
    val sh = simhashMd5Pairs(docs)
      .select(col("doc_a"), col("doc_b"), lit(1L).as("found"))
    exact.join(sh, Seq("doc_a", "doc_b"), "left")
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_exact"),
        sum(coalesce(col("found"), lit(0L))).as("n_simhash"))
      .select((col("band").cast("double") / 20.0d).as("band_lo"),
        col("n_exact"), col("n_simhash"),
        round(col("n_simhash").cast("double") /
          col("n_exact").cast("double"), 9).as("recall"))
      .orderBy(col("band_lo"))
  }

  /** The ROUND REPORT — the single artifact a curation run publishes,
    * composing three proven reports into one union-tagged frame (the
    * q209 counter discipline applied at the report level):
    *
    *  - `attrition`  — q209's four-stage pipeline waterfall,
    *  - `shard`      — q228's token-balanced output manifest,
    *  - `downweight` — q229's duplication ledger per cluster size.
    *
    * The composition is where checkpoint/broadcast disciplines are
    * stress-tested TOGETHER: the corpus tokenization is staged ONCE
    * (lazy localCheckpoint) and feeds both the shard and downweight
    * sections; the CC label frame is the one label exchange q229
    * already pays; the attrition section arrives as a driver-local
    * frame (q209 aggregates to four rows internally). DedupSpec
    * asserts each section equals its standalone query and that the
    * composed plan stages the corpus instead of rescanning it per
    * section. One schema for all sections keeps the artifact a single
    * parquet a dashboard can read: (section, seq, key, n_a, n_b, n_c,
    * metric) with section-specific meanings documented per row kind. */
  def q240RoundReport(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val toks = docs.select(col("doc_id"),
      size(split(graft.functions.Cols.normText(col("text")), " "))
        .cast("long").as("tokens"))
      .localCheckpoint(eager = false) // shard + downweight sections
    // the two driver-iterative builder chains — the corpus CC loop
    // (downweight's labels) and q209's pipeline (its own CC over the
    // dedup survivors) — are data-independent: build them as one
    // concurrent wave (guide §2.6) instead of serial action trains
    val Seq(labels, attritionBase) = Scale.inParallel(
      () => connectedComponents(
        minhashPairs(docs).select(col("doc_a"), col("doc_b")))
        .select(col("id").as("doc_id"), col("label")),
      () => q209CurationPipeline(spark, dir))
    val attrition = attritionBase.select(
      lit("attrition").as("section"),
      col("stage").cast("long").as("seq"), col("gate").as("key"),
      col("n_entering").as("n_a"), col("n_dropped").as("n_b"),
      col("n_surviving").as("n_c"),
      round(col("n_surviving").cast("double") /
        col("n_entering").cast("double"), 9).as("metric"))
    val shard = Sampling.shardManifestFrom(toks).select(
      lit("shard").as("section"),
      col("shard").cast("long").as("seq"),
      col("shard").cast("string").as("key"),
      col("n_docs").as("n_a"), col("n_tokens").as("n_b"),
      lit(null).cast("long").as("n_c"),
      round(col("balance"), 9).as("metric"))
    val downweight = clusterDownweightFrom(toks, labels).select(
      lit("downweight").as("section"),
      col("cluster_size").as("seq"),
      col("cluster_size").cast("string").as("key"),
      col("n_docs").as("n_a"), col("tokens_total").as("n_b"),
      col("tokens_keep_one").as("n_c"),
      round(col("tokens_effective"), 9).as("metric"))
    attrition.unionAll(shard).unionAll(downweight)
      .orderBy(col("section"), col("seq"))
  }

  /** q253: winnowing fingerprints (Schleimer et al. 2003) — the
    * guaranteed-recall local fingerprint selection under plagiarism /
    * overlap detection: hash every 4-gram, slide a 5-gram-wide window
    * over the positions, keep each window's MINIMUM hash. Any shared
    * substring of >= w+k-1 tokens between two documents is then
    * guaranteed to surface as a shared selected fingerprint, at an
    * expected density of 2/(w+1) of the grams — the report's density
    * column sits at ~0.33, which is the certificate that selection is
    * working (q35's single whole-doc fingerprint has recall only for
    * identical docs; this is the substring-robust tier between q35 and
    * the q113 full gram index, at a 3× smaller index than the latter).
    *
    * Scale shape: one explode pass to position-indexed gram hashes,
    * ONE doc-keyed exchange for the sliding-window min (documents are
    * bounded-length, so a per-doc window is safe at any corpus size —
    * the q114 argument), one doc-keyed aggregate. The fingerprint
    * index this selects is what a production pipeline would persist
    * bucketed-by-fingerprint (the q211 discipline) for cross-doc
    * probe joins. */
  def q253Winnowing(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), words(col("text")).as("w"))
      .filter(size(col("w")) >= 4)
    val grams = docs.select(col("doc_id"),
        posexplode(expr("transform(sequence(0, size(w) - 4), " +
          "i -> array_join(slice(w, i + 1, 4), ' '))"))
          .as(Seq("pos", "gram")))
      .select(col("doc_id"), col("pos"),
        conv(substring(md5(col("gram")), 1, 8), 16, 10).cast("long")
          .as("h"))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(0, 4)
    val all = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
    grams
      .withColumn("fp", min(col("h")).over(win))
      .withColumn("n_grams", count(lit(1)).over(all))
      .filter(col("pos") <= col("n_grams") - 5) // full windows only
      .groupBy(col("doc_id"))
      .agg(max(col("n_grams")).as("n_grams"),
        count(lit(1)).as("n_windows"),
        count_distinct(col("fp")).as("n_fp"),
        round(count_distinct(col("fp")).cast("double") /
          max(col("n_grams")).cast("double"), 9).as("density"))
      .orderBy(col("doc_id"))
  }

  /** q256: duplicated-prefix inventory — crawl boilerplate shows up
    * as many documents OPENING identically (cookie banners, nav
    * headers, license preambles) long before they are near-dups as
    * wholes; the standard first-probe is the top duplicated 8-token
    * prefixes. One narrow map to the prefix key (no explode — only
    * the first 8 tokens of each doc materialize), one prefix-keyed
    * aggregate with map-side partials, HAVING >= 2, top-20
    * TakeOrdered (count desc, prefix asc — total order, no global
    * sort). At 100 TB this is among the cheapest corpus passes there
    * is, which is why it runs first in a triage pipeline. */
  def q256PrefixDup(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), words(col("text")).as("w"))
      .filter(size(col("w")) >= 8)
      .select(col("doc_id"),
        array_join(slice(col("w"), 1, 8), " ").as("prefix"))
      .groupBy(col("prefix"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("first_doc"))
      .filter(col("n_docs") >= 2)
      .orderBy(col("n_docs").desc, col("prefix"))
      .limit(20)
}

/** Companion surface for split hygiene: the REPAIR that q158's
  * leakage audit calls for. Kept beside the dedup core because the
  * repair unit is the near-dup cluster, not the document. */
object SplitRepair {
  import Dedup.{minhashPairs, connectedComponents}

  /** q270: cluster-coherent split repair — q158 AUDITS near-dup pairs
    * that straddle the train/val/test boundary (eval contamination);
    * this operator FIXES them: every near-dup cluster is reassigned
    * wholly to its majority split (ties break train > val > test, so
    * contested mass lands where it inflates no eval metric), and the
    * output carries the proof: the (clustered, before, after)
    * transition matrix accounting for every document, plus the
    * post-repair cross-split pair count — structurally zero, because
    * docs sharing a cluster share a split by construction, and
    * recomputed from the edge list rather than asserted.
    *
    * Scale shape: the edge list is localCheckpointed once and feeds
    * both the component labels and the certificate re-join; the
    * majority vote and the transition matrix are cluster-/split-keyed
    * aggregates (bounded by #clusters, not corpus rows); the repair
    * join attaches a |clusters|-row decision table back to the doc
    * table. Singleton documents never enter a shuffle keyed by
    * anything but their own group-by — the q229 discipline. */
  def q270SplitRepair(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val e = minhashPairs(docs)
      .select(col("doc_a"), col("doc_b")).localCheckpoint()
    val labels = connectedComponents(e)
    val spl = docs.select(col("doc_id"),
      Sampling.assignSplit(col("doc_id")).as("split"))
    val cs = labels.join(spl, labels("id") === spl("doc_id"))
      .groupBy(col("label"), col("split"))
      .agg(count(lit(1)).as("cnt"))
    val prio = when(col("split") === "train", 2)
      .when(col("split") === "val", 1).otherwise(0)
    val maj = cs
      .select(col("label"),
        struct(col("cnt"), prio.as("prio"), col("split")).as("s"))
      .groupBy(col("label")).agg(max(col("s")).as("m"))
      .select(col("label"), col("m.split").as("split_after"))
    val fin = spl
      .join(labels.withColumnRenamed("id", "doc_id"), Seq("doc_id"),
        "left")
      .join(maj, Seq("label"), "left")
      .select(col("doc_id"), col("split").as("split_before"),
        coalesce(col("split_after"), col("split")).as("split_after"),
        col("label").isNotNull.as("clustered"))
    val xp = e
      .join(fin.select(col("doc_id").as("doc_a"),
        col("split_after").as("sa")), "doc_a")
      .join(fin.select(col("doc_id").as("doc_b"),
        col("split_after").as("sb")), "doc_b")
      .agg(coalesce(sum(when(col("sa") =!= col("sb"), 1L)
        .otherwise(0L)), lit(0L)).as("cross_pairs_after"))
    fin.groupBy(col("clustered"), col("split_before"),
        col("split_after"))
      .agg(count(lit(1)).as("n_docs"))
      .crossJoin(broadcast(xp))
      .orderBy(col("clustered"), col("split_before"),
        col("split_after"))
  }
}
