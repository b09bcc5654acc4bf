package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Distributed graph primitives for the curation pipeline — the missing
  * link between pairwise near-dup DETECTION (`Dedup.ngramJaccardPairs`,
  * `minhashNearDupPairs`, `simhashNearDupPairs`, cosine pairs) and
  * corpus-level dedup: near-duplication is transitive in practice
  * (A~B, B~C ⇒ one cluster), so survivors must be chosen per CONNECTED
  * COMPONENT of the pair graph, not per pair.
  */
object Graph {

  /** Driver-tier guard for the iterative graph loops (the BpeTrain
    * `MaxDriverVocab` precedent, r14): when the symmetrized DISTINCT
    * edge set holds at most this many directed rows, the fixed-round /
    * fixed-point iteration runs locally over collected primitive
    * arrays instead of as per-round Spark jobs. Rationale (guide
    * §1.2 "the distributed algorithm"): each round is edge-sized work
    * with a strict sequential dependency on the previous round, so
    * below this size the distributed loop pays 2 exchanges + plan-cut
    * + action scheduling PER ROUND for zero parallelism win —
    * measured at sf0.1 the 4-5-round loops cost 2-3 s each while the
    * local simulation of the same rounds is sub-millisecond. The tier
    * changes WHERE the rounds run, never what they compute: every
    * local loop below simulates the distributed rounds update-for-
    * update (same min/count/argmax math, same 8dp rounding and sorted
    * float folds, same round caps and convergence rules), pinned by
    * GraphSpec tier-equality properties and the unchanged oracles.
    * 2^20 directed rows ≈ 16 MB of raw longs (~50 MB transient Row
    * overhead during the one collect) — far under driver headroom,
    * and at 100 TB a graph over the cap takes the distributed loop
    * unchanged. Callers force the distributed path with
    * `maxDriverEdges = 0` (the spec hook). */
  val MaxDriverEdges: Long = 1L << 20

  /** The one driver-tier gate: `n` rows fit under `cap`. A cap of 0
    * always forces the distributed loop, even on an empty edge or node
    * set. */
  private def driverTier(n: Long, cap: Long): Boolean = cap > 0 && n <= cap

  private def r8(x: Double): Double =
    BigDecimal(x).setScale(8, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Collected (src, dst) primitive arrays of a symmetrized edge
    * frame — the driver tier's one collect, guarded by
    * [[MaxDriverEdges]] at every call site. */
  private def collectSym(sym: DataFrame): (Array[Long], Array[Long]) = {
    val rows = sym.select(col("src"), col("dst")).collect()
    val s = new Array[Long](rows.length)
    val d = new Array[Long](rows.length)
    var i = 0
    while (i < rows.length) {
      s(i) = rows(i).getLong(0); d(i) = rows(i).getLong(1); i += 1
    }
    (s, d)
  }

  /** Symmetrized (src, dst) edge view in ONE pass over `edges`: each
    * input row explodes into both directions. The union-of-two-selects
    * idiom this replaces (r14) referenced `edges` twice, so an
    * EXPENSIVE edge input — the near-dup pair pipeline every graph
    * query here consumes — was computed twice before the downstream
    * persist could catch it (measured at sf0.1: pageRank over the
    * uncached pair graph 9.9 s vs 3.2 s over cached edges; the pair
    * pipeline itself is ~1.9 s, so ~2x of it was pure double-compute).
    * Same multiset of rows, so every consumer's result is unchanged. */
  private def symEdges(edges: DataFrame, aCol: String, bCol: String)
      : DataFrame =
    edges.select(explode(array(
        struct(col(aCol).cast("long").as("src"),
          col(bCol).cast("long").as("dst")),
        struct(col(bCol).cast("long").as("src"),
          col(aCol).cast("long").as("dst")))).as("__e"))
      .select(col("__e.src").as("src"), col("__e.dst").as("dst"))

  /** Connected components of an undirected edge list: one output row
    * `(id, comp)` per node appearing in `edges`, `comp` = the smallest
    * node id in its component (the canonical representative).
    *
    * Min-label propagation with pointer jumping: each round
    * (1) pulls the minimum neighbor label across edges, then
    * (2) jumps each label through the label table (`comp := comp(comp)`),
    * so long chains collapse geometrically (the alternating-star idea of
    * Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14) instead of one hop per round — O(log n) rounds on a path
    * graph. Every round is two key shuffles plus one K=1 convergence
    * aggregate: labels only ever decrease, so an unchanged `sum(comp)`
    * proves convergence without joining against the previous round.
    * Nothing is ever collected. Dup-cluster graphs (tiny components)
    * converge in 2-3 rounds.
    *
    * `maxIter` bounds the rounds; the propagation is monotone
    * (labels only decrease, floored at the component minimum), so a
    * capped run still yields valid — just possibly unmerged — clusters.
    *
    * `checkpointEvery` (default 0 = off) additionally TRUNCATES RDD
    * lineage every that-many rounds: the per-round plan cut below keeps
    * lineage on purpose (block-loss recovery), but over a deep run the
    * chain itself becomes the failure cost — an executor lost in round
    * 18 recomputes every previous round. Opt in at scale to bound the
    * recompute depth: a reliable `checkpoint()` when the context has a
    * checkpoint dir (survives executor loss), `localCheckpoint()`
    * otherwise (no DFS write, trades executor-loss tolerance). Labels
    * are identical either way — only the recovery story changes. */
  def connectedComponents(edges: DataFrame, aCol: String = "id_a",
      bCol: String = "id_b", maxIter: Int = 25,
      checkpointEvery: Int = 0,
      maxDriverEdges: Long = MaxDriverEdges): DataFrame = {
    val sym = symEdges(edges, aCol, bCol)
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    // driver tier (see MaxDriverEdges): the count doubles as the
    // persist materializer the first round's action used to provide
    val nEdges = sym.count()
    if (driverTier(nEdges, maxDriverEdges)) {
      val (s, d) = collectSym(sym)
      sym.unpersist()
      val spark = edges.sparkSession
      import spark.implicits._
      return TrackedCaches.track(
        ccLocal(s, d, maxIter).toSeq.sortBy(_._1).toDF("id", "comp"))
    }
    var labels = sym.select(col("src").as("id"))
      .distinct()
      .select(col("id"), col("id").as("comp"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // labels only ever DECREASE (monotone min propagation), so the label
    // table changed iff sum(comp) changed — a join-free convergence
    // check. decimal(38,0) keeps the sum exact for 64-bit ids at any
    // count (ANSI mode would throw on a long overflow). Empty frame →
    // null sum → normalized to 0 (an empty edge list is a legitimate
    // input: a clean corpus has no pairs).
    def compSum(df: DataFrame): java.math.BigDecimal = {
      val s = df.agg(sum(col("comp").cast("decimal(38,0)")))
        .first().getDecimal(0)
      if (s == null) java.math.BigDecimal.ZERO else s
    }
    var prevSum = compSum(labels) // doubles as the persist materializer
    var iter = 0
    var converged = labels.isEmpty // no nodes: already done
    // live localCheckpoint RDD of the CURRENT labels (cadence rounds
    // only): freed when the next round supersedes it; if the loop ends
    // on one, its blocks ARE the returned table's storage and stay
    var ckptRdd: Option[org.apache.spark.rdd.RDD[_]] = None
    while (!converged && iter < maxIter) {
      // (1) pull: comp(v) := min(comp(v), min over neighbors comp(u))
      val nbrMin = sym
        .join(labels.select(col("id").as("dst"), col("comp").as("dcomp")),
          "dst")
        .groupBy(col("src").as("id"))
        .agg(min("dcomp").as("nmin"))
      val pulled = labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"),
          least(col("comp"), coalesce(col("nmin"), col("comp"))).as("comp"))
      // (2) jump: comp(v) := comp(comp(v)) — collapses pointer chains
      val jumped = pulled.as("l")
        .join(pulled.select(col("id").as("cid"), col("comp").as("ccomp"))
          .as("p"), col("l.comp") === col("p.cid"), "left")
        .select(col("l.id").as("id"),
          least(col("l.comp"), coalesce(col("p.ccomp"), col("l.comp")))
            .as("comp"))
      // CUT THE SQL PLAN each round: the round's plan references the
      // previous round's twice, so without a cut the logical plan grows
      // ~4^iter and planning itself OOMs after a few rounds (measured on
      // a 40-node path). Rebuilding the frame from its RDD flattens the
      // SQL plan to a LogicalRDD while KEEPING RDD lineage — unlike
      // localCheckpoint, a lost/evicted block recomputes through the
      // persisted parents instead of killing every later consumer. The
      // per-round persist is a real cacheManager entry, so the previous
      // round's unpersist actually frees its blocks.
      val ckptNow = checkpointEvery > 0 && (iter + 1) % checkpointEvery == 0
      val reliable = jumped.sparkSession.sparkContext.getCheckpointDir
        .isDefined
      var roundRdd: Option[org.apache.spark.rdd.RDD[_]] = None
      val next =
        if (ckptNow && reliable)
          // checkpoint() flattens the SQL plan itself; the persist keeps
          // consumers off repeated DFS reads of the checkpoint files.
          // File cleanup is the app's policy knob
          // (spark.cleaner.referenceTracking.cleanCheckpoints)
          jumped.checkpoint(eager = true)
            .persist(StorageLevel.MEMORY_AND_DISK)
        else if (ckptNow) {
          // localCheckpoint STORES the RDD itself (its blocks become the
          // new lineage), so a second Dataset-level persist would hold a
          // duplicate columnar copy; instead keep the RDD handle and
          // free its blocks when the round is superseded
          val r = jumped.rdd
          r.localCheckpoint()
          roundRdd = Some(r)
          jumped.sparkSession.createDataFrame(r, jumped.schema)
        } else jumped.sparkSession
          .createDataFrame(jumped.rdd, jumped.schema)
          .persist(StorageLevel.MEMORY_AND_DISK)
      val sumNow = compSum(next) // the action that seals the round
      labels.unpersist()
      // a superseded cadence round's localCheckpoint blocks are dead
      // weight the Dataset-level unpersist can't reach
      ckptRdd.foreach(_.unpersist(blocking = false))
      ckptRdd = roundRdd
      labels = next
      converged = sumNow.compareTo(prevSum) == 0
      prevSum = sumNow
      iter += 1
    }
    sym.unpersist()
    if (!converged)
      System.err.println(
        s"[graph] connectedComponents hit maxIter=$maxIter before the " +
          "convergence check passed: labels are valid but components may " +
          "be under-merged (downstream dedup would under-dedup). " +
          "Raise maxIter for deep chain graphs.")
    // the returned table stays persisted for its consumers; register it
    // so long-lived drivers can free it via Dedup.releaseCaches()
    TrackedCaches.track(labels)
  }

  /** Local simulation of the [[connectedComponents]] rounds — the
    * driver tier. Identical update rule per round (synchronous
    * pull-the-neighbor-min, then jump comp := min(comp, comp(comp))),
    * identical convergence test (labels are monotone decreasing, so
    * "sum unchanged" ⇔ "no label changed") and the same `maxIter`
    * cap — a capped under-merged run reproduces the distributed
    * loop's capped output exactly, not a union-find shortcut past it. */
  private[operators] def ccLocal(src: Array[Long], dst: Array[Long],
      maxIter: Int): Array[(Long, Long)] = {
    import scala.collection.mutable
    var comp = mutable.LongMap.empty[Long]
    var i = 0
    while (i < src.length) {
      if (!comp.contains(src(i))) comp.update(src(i), src(i))
      i += 1
    }
    var iter = 0
    var converged = comp.isEmpty
    while (!converged && iter < maxIter) {
      // (1) pull: comp(v) := min(comp(v), min over neighbors comp(u)) —
      // all reads against the PREVIOUS round's table (synchronous)
      val pulled = comp.clone()
      i = 0
      while (i < src.length) {
        val cu = comp(dst(i))
        if (cu < pulled(src(i))) pulled.update(src(i), cu)
        i += 1
      }
      // (2) jump: comp(v) := min(comp(v), comp(comp(v))) over PULLED
      var changed = false
      val next = mutable.LongMap.empty[Long]
      pulled.foreachEntry { (v, c) =>
        val nv = math.min(c, pulled.getOrElse(c, c))
        next.update(v, nv)
        if (nv != comp(v)) changed = true
      }
      comp = next
      converged = !changed
      iter += 1
    }
    if (!converged)
      System.err.println(
        s"[graph] connectedComponents hit maxIter=$maxIter before the " +
          "convergence check passed: labels are valid but components may " +
          "be under-merged (downstream dedup would under-dedup). " +
          "Raise maxIter for deep chain graphs.")
    comp.toArray
  }

  /** Distributed PageRank over an undirected pair graph (edges are
    * symmetrized; every node has degree >= 1, so there are no dangling
    * nodes). Fixed iteration count, damping d:
    * `r'(v) = (1-d)/N + d * sum over neighbors u of r(u)/deg(u)`.
    *
    * Cross-engine/cross-partitioning DETERMINISM is engineered in:
    * every rank and contribution rounds to 8dp (digits chosen by value
    * magnitude — ranks are O(1/N)), and each node's neighbor sum folds
    * its contributions in SORTED order, so the float additions happen
    * in one canonical order no matter how Spark partitions the
    * groupBy. Two runs — or Spark vs the SQL oracle — produce
    * bit-identical ranks.
    *
    * Scale shape: one persisted adjacency table; per iteration one
    * equi-join on src and one groupBy(dst). The per-node
    * `sort_array(collect_list)` is degree-bounded — fine on sparse
    * similarity/link graphs; a power-law web graph would want the
    * tree-aggregate formulation instead (documented trade). The SQL
    * plan is cut per round exactly like [[connectedComponents]]
    * (lineage kept, logical plan flattened). */
  def pageRank(edges: DataFrame, aCol: String = "id_a",
      bCol: String = "id_b", iterations: Int = 5,
      damping: Double = 0.85,
      maxDriverEdges: Long = MaxDriverEdges): DataFrame = {
    require(iterations >= 0, s"iterations must be >= 0: $iterations")
    // persist the symmetrized edges BEFORE the node count: the edge
    // input may itself be an expensive pipeline (the near-dup pair
    // graph), and without this cache it would run twice — once for the
    // scalar count, once when the adjacency table materializes
    val sym = symEdges(edges, aCol, bCol)
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    // driver tier (see MaxDriverEdges): simulate the rounds locally
    val nEdges = sym.count()
    if (driverTier(nEdges, maxDriverEdges)) {
      val (s, d) = collectSym(sym)
      sym.unpersist()
      val spark = edges.sparkSession
      import spark.implicits._
      return TrackedCaches.track(
        pageRankLocal(s, d, iterations, damping).toSeq.sortBy(_._1)
          .toDF("id", "rank"))
    }
    val deg = sym.groupBy("src").agg(count(lit(1)).as("deg"))
    val adj = sym.join(deg, "src").persist(StorageLevel.MEMORY_AND_DISK)
    val n = deg.count() // one scalar to the driver (node count)
    val spark = edges.sparkSession
    if (n == 0) {
      sym.unpersist(); adj.unpersist()
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("rank",
            org.apache.spark.sql.types.DoubleType))))
    }
    def r8(x: Double): Double =
      BigDecimal(x).setScale(8, BigDecimal.RoundingMode.HALF_UP).toDouble
    val base = r8((1.0 - damping) / n)
    var ranks = deg.select(col("src"), lit(r8(1.0 / n)).as("rank"))
    for (_ <- 1 to iterations) {
      val contribs = adj.join(ranks, "src")
        .select(col("dst"), round(col("rank") / col("deg"), 8).as("contrib"))
      val next = contribs.groupBy(col("dst").as("src"))
        .agg(round(lit(base) + lit(damping) *
          aggregate(sort_array(collect_list(col("contrib"))), lit(0.0),
            (acc, c) => acc + c), 8).as("rank"))
      // plan cut (see connectedComponents): flatten the logical plan,
      // keep RDD lineage. r14 MEASURED the no-cut chained alternative
      // (each round references ranks once, so growth is linear and
      // chaining is legal): 3.2 s -> 5.3 s for the 5-round loop on the
      // sf0.1 graph — the cut's LogicalRDD leaf makes the static
      // planner broadcast the small cached adjacency per round, while
      // the chained plan runs extra AQE planning rounds and stage
      // barriers per iteration. Cut kept.
      ranks = spark.createDataFrame(next.rdd, next.schema)
    }
    val out = ranks.select(col("src").as("id"), col("rank"))
    out.persist(StorageLevel.MEMORY_AND_DISK).count()
    sym.unpersist(); adj.unpersist()
    TrackedCaches.track(out)
  }

  /** Local simulation of the [[pageRank]] rounds — the driver tier.
    * Identical float math per round: contrib = round8(rank / deg),
    * per-node neighbor sums fold the contributions in ASCENDING order
    * from 0.0 (the sort_array + aggregate fold), next rank =
    * round8(base + damping * sum) — so the returned ranks are the
    * distributed loop's bit for bit (`r8` is Spark's HALF_UP double
    * rounding; the existing code already mixes the two). */
  private[operators] def pageRankLocal(src: Array[Long], dst: Array[Long],
      iterations: Int, damping: Double): Array[(Long, Double)] = {
    import scala.collection.mutable
    val deg = mutable.LongMap.empty[Long]
    var i = 0
    while (i < src.length) {
      deg.update(src(i), deg.getOrElse(src(i), 0L) + 1L); i += 1
    }
    val n = deg.size
    if (n == 0) return Array.empty
    val base = r8((1.0 - damping) / n)
    var ranks = mutable.LongMap.empty[Double]
    deg.foreachEntry((v, _) => ranks.update(v, r8(1.0 / n)))
    // group incoming edges by dst once: edge index order sorted by dst
    val order = Array.range(0, src.length)
      .sortBy(dst(_))
    for (_ <- 1 to iterations) {
      val contrib = mutable.LongMap.empty[Double]
      deg.foreachEntry((v, dv) =>
        contrib.update(v, r8(ranks(v) / dv)))
      val next = mutable.LongMap.empty[Double]
      var j = 0
      while (j < order.length) {
        val u = dst(order(j))
        var k = j
        while (k < order.length && dst(order(k)) == u) k += 1
        val cs = new Array[Double](k - j)
        var m = j
        while (m < k) { cs(m - j) = contrib(src(order(m))); m += 1 }
        java.util.Arrays.sort(cs)
        var sum = 0.0
        var t = 0
        while (t < cs.length) { sum += cs(t); t += 1 }
        next.update(u, r8(base + damping * sum))
        j = k
      }
      ranks = next
    }
    ranks.toArray
  }

  /** Transitive near-dup survivors: keep every row of `df` except
    * non-representative members of a pair-graph component (the min-id
    * member survives, mirroring `Dedup.dedupExact`'s min-id rule).
    * Rows with no near-dup pair are untouched. */
  def dedupByComponents(df: DataFrame, pairs: DataFrame, idCol: String,
      aCol: String = "id_a", bCol: String = "id_b"): DataFrame = {
    val losers = connectedComponents(pairs, aCol, bCol)
      .filter(col("id") =!= col("comp"))
      .select(col("id").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Survivorship dedup: per near-dup component keep the BEST row by
    * `scoreCol` (ties to the smallest id — deterministic), not the
    * min-id row [[dedupByComponents]] keeps. This is the curation-
    * correct variant: within a duplicate cluster you keep the highest-
    * quality copy, and "first crawled" (min id) is usually the worst
    * proxy for that. Rows untouched by any pair survive unchanged.
    *
    * Shape: CC over the pair graph (component-labeled nodes only),
    * winner per component via one window over the COMPONENT-sized
    * label frame (never the corpus), then a left-anti join removes the
    * losers. Output: the surviving rows of `df`, original schema. */
  def dedupBySurvivor(df: DataFrame, pairs: DataFrame, idCol: String,
      scoreCol: String, aCol: String = "id_a", bCol: String = "id_b")
      : DataFrame =
    survivorsFromLabels(df, connectedComponents(pairs, aCol, bCol),
      idCol, scoreCol)

  /** [[dedupBySurvivor]] over an ALREADY-COMPUTED component labeling
    * `(id, comp)` — the entry point when the labeling is shared across
    * queries (or maintained incrementally via
    * [[incrementalComponents]]), so the CC loop isn't re-run per
    * consumer. */
  def survivorsFromLabels(df: DataFrame, labels: DataFrame,
      idCol: String, scoreCol: String): DataFrame = {
    val scored = labels.join(
      df.select(col(idCol).cast("long").as("id"),
        col(scoreCol).as("__score")), "id")
    val w = Window.partitionBy("comp")
      .orderBy(col("__score").desc, col("id"))
    val losers = scored
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") > 1)
      .select(col("id").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Per-node triangle counts over an undirected edge list — the
    * clustering-coefficient numerator, a cluster-cohesion signal for
    * near-dup graphs (a dense triangle core = true duplicate cluster;
    * a triangle-free star = one template touching many docs).
    *
    * Canonical formulation: orient every edge low->high, join
    * wedge (a<b) + (b<c) to candidate (a,b,c), then confirm the
    * closing (a,c) edge with a semi-join. Each triangle is found
    * exactly once (a<b<c), then credited to all three corners. Two
    * hash equi-joins on node keys — no cartesian anywhere; for
    * power-law graphs at 100 TB the standard refinement (orient
    * wedges by degree instead of id) drops hot-node wedge counts, but
    * near-dup graphs are degree-bounded by construction (banded
    * candidates), so id orientation keeps the oracle exact. */
  /** Production hub-degree cap for the wedge family ([[triangleCounts]]
    * / [[kTruss]] / [[clusteringCoefficients]]): a degree-d node
    * contributes O(d²) wedge candidates to the triangle-enumeration
    * join, so ONE boilerplate template hub is the whole family's
    * 100 TB risk regardless of corpus sparsity — near-dup graphs are
    * degree-bounded by construction, adversarial key spaces are not.
    * The Linkage `maxBlock` precedent: the bound is ENFORCED code with
    * a loud truncation report, not a doc comment. Overflowing nodes
    * keep edges to their `maxDegree` lowest-id neighbors
    * (deterministic), so post-cap wedge volume is <= maxDegree² per
    * node no matter what the input does; sub-cap graphs pay one cheap
    * degree aggregate and are returned EXACT. */
  // 2000 is the measured winner, not a guess: the r9 straddling-hub
  // rehearsal (degree-20k hub on 1M edges) read 30.7 s uncapped vs
  // 6.4 s at maxDegree=2000, and every production near-dup graph the
  // engine builds is banded to degrees far below it. The previous
  // 10000 default admitted 10^8 wedge candidates per hub node — a
  // bound that exists but does not protect. Callers with genuinely
  // dense trusted graphs opt UP explicitly via the maxDegree param.
  val DefaultMaxDegree = 2000

  /** Programmatic witness of the most recent hub-cap truncation in
    * this JVM: `Some((cap, top-5 (node, degree) trims))` after a
    * wedge-family call actually capped a node, `None` after one that
    * returned exact results. The stderr report makes the
    * exact→approximate transition visible in logs; this makes it
    * visible to CODE (harnesses assert exactness, pipelines route
    * capped outputs differently) without plumbing a side channel
    * through every return type. Volatile single-slot — read it right
    * after the call whose exactness you care about. */
  @volatile var lastHubCapTruncation: Option[(Int, Seq[(Long, Long)])] =
    None

  // the canonical edge set feeds THREE join legs (four with degrees) —
  // without a cache an expensive upstream (the near-dup pair pipeline)
  // would run once per leg (the pageRank lesson, same registry so
  // harnesses can release it)
  private def canonicalEdges(edges: DataFrame, aCol: String,
      bCol: String, maxDegree: Int = DefaultMaxDegree): DataFrame = {
    require(maxDegree >= 2, s"bad maxDegree: $maxDegree")
    val canon = TrackedCaches.persist(edges.select(
        least(col(aCol), col(bCol)).cast("long").as("lo"),
        greatest(col(aCol), col(bCol)).cast("long").as("hi"))
      .filter(col("lo") < col("hi"))
      .distinct())
    // overflow detection: one degree aggregate over the (cached,
    // edge-sized) canonical frame — the cappedNames detection shape
    val hubs = canon
      .select(explode(array(col("lo"), col("hi"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("deg"))
      .filter(col("deg") > maxDegree)
      .orderBy(col("deg").desc, col("id")).limit(5).collect()
    lastHubCapTruncation =
      if (hubs.isEmpty) None
      else Some((maxDegree,
        hubs.map(r => (r.getLong(0), r.getLong(1))).toSeq))
    if (hubs.isEmpty) canon
    else {
      System.err.println(
        s"[graft.graph] hub-degree cap $maxDegree TRUNCATED node(s) " +
          hubs.map(r => s"${r.getLong(0)} (deg ${r.getLong(1)})")
            .mkString(", ") +
          " — triangles through the dropped edges are NOT counted; " +
          "raise maxDegree or pre-filter template hubs")
      // rank each edge among BOTH endpoints' neighbor lists (by
      // neighbor id — deterministic); an edge survives only when it
      // is inside the cap on both sides, so every node's post-cap
      // degree is <= maxDegree and the wedge bound holds
      val capped = TrackedCaches.persist(canon
        .withColumn("__rl",
          row_number().over(Window.partitionBy("lo").orderBy("hi")))
        .withColumn("__rh",
          row_number().over(Window.partitionBy("hi").orderBy("lo")))
        .filter(col("__rl") <= maxDegree && col("__rh") <= maxDegree)
        .drop("__rl", "__rh"))
      canon.unpersist()
      capped
    }
  }

  private def triFromCanonical(e: DataFrame): DataFrame = {
    val tri = e.select(col("lo").as("a"), col("hi").as("b"))
      .join(e.select(col("lo").as("b"), col("hi").as("c")), "b")
      .join(e.select(col("lo").as("a"), col("hi").as("c")),
        Seq("a", "c"), "left_semi")
    tri.select(explode(array(col("a"), col("b"), col("c"))).as("id"))
      .groupBy("id")
      .agg(count(lit(1)).as("n_triangles"))
  }

  def triangleCounts(edges: DataFrame, aCol: String = "id_a",
      bCol: String = "id_b",
      maxDegree: Int = DefaultMaxDegree): DataFrame =
    triFromCanonical(canonicalEdges(edges, aCol, bCol, maxDegree))

  /** Synchronous semi-supervised label propagation: seed nodes keep
    * their label forever; every other node adopts, each round, the
    * MOST FREQUENT label among its labeled neighbors (ties break to
    * the lexicographically smallest label; no labeled neighbor keeps
    * the current label). Fixed round count + deterministic tie-break
    * make the result a pure function of (nodes, edges) — replayable
    * round-for-round in SQL, unlike classic asynchronous LPA whose
    * output depends on visit order.
    *
    * Per round: one equi-join of the symmetrized edges against the
    * current labeled set, a (node, label)-sized count aggregate, and a
    * per-node rank window — all hash-partitioned by node. State is one
    * label per node. The previous round's cache is dropped after the
    * next materializes (same discipline as connectedComponents). */
  def labelPropagation(nodes: DataFrame, edges: DataFrame,
      idCol: String = "id", labelCol: String = "label",
      aCol: String = "id_a", bCol: String = "id_b",
      iterations: Int = 3,
      maxDriverEdges: Long = MaxDriverEdges): DataFrame = {
    require(iterations >= 0, s"bad iterations: $iterations")
    val sym = TrackedCaches.persist(symEdges(edges, aCol, bCol)
      .distinct())
    // driver tier (see MaxDriverEdges): string labels only (the local
    // tie-break replays Spark's UTF8 binary order, which is only
    // implemented for strings here); node frame shares the edge cap
    val labelIsString = nodes.schema(labelCol).dataType ==
      org.apache.spark.sql.types.StringType
    if (labelIsString && driverTier(sym.count(), maxDriverEdges) &&
        driverTier(nodes.count(), maxDriverEdges)) {
      val seedRows = nodes
        .select(col(idCol).cast("long").as("id"), col(labelCol))
        .collect()
      val (s, d) = collectSym(sym)
      val nd = seedRows.map(r =>
        (r.getLong(0), if (r.isNullAt(1)) null else r.getString(1)))
      val spark = nodes.sparkSession
      import spark.implicits._
      return lpaLocal(nd, s, d, iterations).toSeq.sortBy(_._1)
        .toDF("id", "label")
    }
    var labels = TrackedCaches.persist(
      nodes.select(col(idCol).cast("long").as("id"),
        col(labelCol).as("seed_label"),
        col(labelCol).as("label")))
    (1 to iterations).foreach { _ =>
      val contrib = sym.join(
          labels.filter(col("label").isNotNull)
            .select(col("id").as("src"), col("label").as("nl")), "src")
        .groupBy(col("dst").as("id"), col("nl"))
        .agg(count(lit(1)).as("cnt"))
      val best = contrib.withColumn("rk", row_number().over(
          Window.partitionBy("id")
            .orderBy(col("cnt").desc, col("nl"))))
        .filter(col("rk") === 1).select(col("id"), col("nl"))
      val prev = labels
      labels = TrackedCaches.persist(
        prev.join(best, Seq("id"), "left")
          .select(col("id"), col("seed_label"),
            when(col("seed_label").isNotNull, col("seed_label"))
              .otherwise(coalesce(col("nl"), col("label")))
              .as("label")))
      labels.count()
      prev.unpersist()
    }
    labels.select(col("id"), col("label"))
  }

  /** Local simulation of the [[labelPropagation]] rounds — the driver
    * tier (string labels only). Same synchronous rounds: every
    * labeled NODE ROW (duplicate node rows kept, exactly as the
    * distributed join sees them) contributes its label to each
    * neighbor, the winner is (count desc, label asc in UTF8 BINARY
    * order — Spark's string ordering, via [[BpeTrain.utf8Less]]),
    * seeds keep their label, unlabeled nodes with no labeled neighbor
    * keep their current label. */
  private[operators] def lpaLocal(nodeRows: Array[(Long, String)],
      src: Array[Long], dst: Array[Long], iterations: Int)
      : Array[(Long, String)] = {
    import scala.collection.mutable
    // per-row state: (id, seed_label, label); duplicates preserved
    val ids = nodeRows.map(_._1)
    val seed = nodeRows.map(_._2)
    var label = seed.clone()
    // id -> row indices (handles duplicate node rows bit-for-bit)
    val rowsOf = mutable.LongMap.empty[mutable.ArrayBuilder.ofInt]
    var i = 0
    while (i < ids.length) {
      rowsOf.getOrElseUpdate(ids(i), new mutable.ArrayBuilder.ofInt) += i
      i += 1
    }
    val rowIdx = mutable.LongMap.empty[Array[Int]]
    rowsOf.foreachEntry((k, b) => rowIdx.update(k, b.result()))
    for (_ <- 1 to iterations) {
      // (dst, label) counts from every labeled source ROW
      val counts = mutable.HashMap.empty[(Long, String), Long]
      var e = 0
      while (e < src.length) {
        rowIdx.get(src(e)).foreach { rs =>
          var j = 0
          while (j < rs.length) {
            val l = label(rs(j))
            if (l != null) {
              val key = (dst(e), l)
              counts.update(key, counts.getOrElse(key, 0L) + 1L)
            }
            j += 1
          }
        }
        e += 1
      }
      // winner per node: count desc, label asc (UTF8 binary)
      val best = mutable.LongMap.empty[(String, Long)]
      counts.foreach { case ((u, l), c) =>
        best.get(u) match {
          case Some((bl, bc)) =>
            if (c > bc || (c == bc && BpeTrain.utf8Less(l, bl)))
              best.update(u, (l, c))
          case None => best.update(u, (l, c))
        }
      }
      val next = new Array[String](label.length)
      i = 0
      while (i < label.length) {
        next(i) =
          if (seed(i) != null) seed(i)
          else best.get(ids(i)).map(_._1).getOrElse(label(i))
        i += 1
      }
      label = next
    }
    ids.indices.map(j => (ids(j), label(j))).toArray
  }

  /** Incremental connected components — fold a DELTA edge batch into an
    * existing component labeling without re-running CC over the full
    * graph (the nightly-crawl companion to `incrementalNearDupPairs`:
    * that op finds only delta-vs-all pairs; this op merges them into
    * the settled clustering).
    *
    * The labeling (id, comp) is itself a compressed form of the base
    * graph: star edges id→comp reproduce the exact partition. So the
    * merge is: map each delta edge to its endpoints' CURRENT component
    * reps (nodes unseen before rep themselves), run CC over that
    * REP-GRAPH — delta-sized, usually tiny — and broadcast the rep
    * relabeling back over the base labels. Work is O(|delta| + |base
    * labels|) with the quadratic-free CC loop only ever touching the
    * delta; the full base edge set is never revisited. Output: (id,
    * comp) for every base node and every delta-edge endpoint, comp =
    * min id in the MERGED component (same convention as
    * `connectedComponents`, and identical to recomputing from
    * scratch — pinned by spec and oracle). */
  def incrementalComponents(baseLabels: DataFrame, deltaEdges: DataFrame,
      aCol: String = "id_a", bCol: String = "id_b",
      maxIter: Int = 25): DataFrame = {
    val base = baseLabels.select(col("id").cast("long").as("id"),
      col("comp").cast("long").as("comp"))
    val delta = deltaEdges.select(col(aCol).cast("long").as("a"),
      col(bCol).cast("long").as("b"))
    // endpoints -> current rep (unknown nodes rep themselves)
    val repEdges = delta
      .join(base.select(col("id").as("a"), col("comp").as("ra")),
        Seq("a"), "left")
      .join(base.select(col("id").as("b"), col("comp").as("rb")),
        Seq("b"), "left")
      .select(coalesce(col("ra"), col("a")).as("id_a"),
        coalesce(col("rb"), col("b")).as("id_b"))
    val repRelabel = connectedComponents(repEdges, maxIter = maxIter)
      .select(col("id").as("comp"), col("comp").as("newcomp"))
    // base labels + self-labels for delta endpoints new to the graph
    val allLabels = base.unionByName(
        delta.select(col("a").as("id")).union(delta.select(col("b")))
          .distinct()
          .join(base.select("id"), Seq("id"), "left_anti")
          .select(col("id"), col("id").as("comp")))
    // rep-graph is delta-bounded: broadcast the relabeling
    allLabels.join(broadcast(repRelabel), Seq("comp"), "left")
      .select(col("id"), coalesce(col("newcomp"), col("comp")).as("comp"))
  }

  /** Degree distribution + discrete power-law MLE over the pair graph:
    * one row `(n_nodes, n_edges, max_deg, mean_deg, alpha)` with
    * `alpha = 1 + n / sum(ln(deg))` (the Clauset-Shalizi-Newman
    * discrete MLE at dmin = 1, continuous approximation) — the
    * one-number answer to "is this near-dup graph a few dense template
    * clusters (steep alpha) or a hairball (flat alpha)". Two
    * aggregates, nothing collected; alpha is null on a degenerate
    * all-degree-one graph (every ln is 0). */
  def degreePowerLaw(edges: DataFrame, aCol: String = "id_a",
      bCol: String = "id_b"): DataFrame = {
    // self-loops are dropped: a loop symmetrizes to ONE row, making
    // sum(deg) odd — the half-edge then truncates on one engine and
    // rounds on another (cross-engine n_edges drift), and a loop is
    // degenerate for a simple-graph degree distribution anyway
    val deg = symEdges(edges, aCol, bCol)
      .filter(col("src") =!= col("dst"))
      .distinct()
      .groupBy("src").agg(count(lit(1)).as("deg"))
    deg.agg(
        count(lit(1)).as("n_nodes"),
        (sum(col("deg")) / 2).cast("long").as("n_edges"),
        max(col("deg")).as("max_deg"),
        round(avg(col("deg")), 6).as("mean_deg"),
        sum(log(col("deg").cast("double"))).as("__slog"))
      .withColumn("alpha",
        when(col("__slog") > 0,
          round(lit(1.0) + col("n_nodes") / col("__slog"), 6)))
      .drop("__slog")
  }

  /** k-core of the pair graph: the maximal subgraph where every node
    * has degree >= k within the subgraph — the standard "dense cluster
    * vs stray pair" separator for near-dup graphs (a boilerplate
    * template cluster is a high-k core; an incidental pair is not).
    *
    * Iterative peeling: each round recomputes degrees WITHIN the
    * current survivor set and drops nodes under k. Monotone (the
    * survivor set only shrinks), so a fixed `rounds` budget is safe —
    * an early-converged run is identical to running all rounds, which
    * is what makes the result SQL-replayable round-for-round (the
    * kmeans/MMR unrolled-CTE oracle pattern; peeling is row DELETION,
    * which a recursive CTE cannot express). Convergence is detected
    * with a count compare and remaining rounds are skipped.
    *
    * Per round: two broadcast-or-hash semi-joins of the edge list
    * against the (shrinking) survivor set + one degree aggregate —
    * all hash-partitioned, nothing collected; the edge list is cached
    * once, survivor caches are dropped as soon as the next round
    * materializes. Output: `(id, deg)` per k-core member with its
    * in-core degree. */
  def kCore(edges: DataFrame, k: Int, rounds: Int = 4,
      aCol: String = "id_a", bCol: String = "id_b",
      maxDriverEdges: Long = MaxDriverEdges): DataFrame = {
    require(k >= 1, s"bad k: $k")
    require(rounds >= 1, s"bad rounds: $rounds")
    val sym = TrackedCaches.persist(symEdges(edges, aCol, bCol)
      .distinct())
    // driver tier (see MaxDriverEdges): peel locally
    if (driverTier(sym.count(), maxDriverEdges)) {
      val (s, d) = collectSym(sym)
      val spark = edges.sparkSession
      import spark.implicits._
      return kCoreLocal(s, d, k, rounds).toSeq.sorted.toDF("id", "deg")
    }
    var alive: DataFrame = null
    var aliveN = -1L
    var done = false
    (1 to rounds).foreach { _ =>
      if (!done) {
        val scoped =
          if (alive == null) sym
          else sym
            .join(alive.select(col("id").as("src")), Seq("src"), "left_semi")
            .join(alive.select(col("id").as("dst")), Seq("dst"), "left_semi")
        val next = TrackedCaches.persist(
          scoped.groupBy(col("src").as("id"))
            .agg(count(lit(1)).as("deg"))
            .filter(col("deg") >= k))
        val n = next.count()
        if (alive != null) alive.unpersist()
        alive = next
        if (n == aliveN) done = true // fixpoint: further rounds no-op
        aliveN = n
      }
    }
    // final in-core degree: one more degree pass restricted to the
    // survivor set, so the reported degree is the SUBGRAPH degree even
    // when the round budget stopped before the last filter
    sym.join(alive.select(col("id").as("src")), Seq("src"), "left_semi")
      .join(alive.select(col("id").as("dst")), Seq("dst"), "left_semi")
      .groupBy(col("src").as("id"))
      .agg(count(lit(1)).as("deg"))
  }

  /** Local simulation of the [[kCore]] peel — the driver tier. Same
    * round semantics: survivors = nodes whose degree WITHIN the
    * current survivor-induced subgraph is >= k, fixpoint detected by
    * an unchanged survivor count, remaining rounds skipped, and the
    * reported degree is one final in-subgraph degree pass over the
    * final survivor set (so an early-stopped budget reports the same
    * numbers as the distributed loop). */
  private[operators] def kCoreLocal(src: Array[Long], dst: Array[Long],
      k: Int, rounds: Int): Array[(Long, Long)] = {
    import scala.collection.mutable
    def degrees(alive: mutable.LongMap[Boolean])
        : mutable.LongMap[Long] = {
      val deg = mutable.LongMap.empty[Long]
      var i = 0
      while (i < src.length) {
        if (alive == null ||
            (alive.contains(src(i)) && alive.contains(dst(i))))
          deg.update(src(i), deg.getOrElse(src(i), 0L) + 1L)
        i += 1
      }
      deg
    }
    var alive: mutable.LongMap[Boolean] = null
    var aliveN = -1L
    var done = false
    (1 to rounds).foreach { _ =>
      if (!done) {
        val deg = degrees(alive)
        val next = mutable.LongMap.empty[Boolean]
        deg.foreachEntry((v, dv) => if (dv >= k) next.update(v, true))
        val n = next.size.toLong
        alive = next
        if (n == aliveN) done = true
        aliveN = n
      }
    }
    degrees(alive).toArray
  }

  /** k-truss of the pair graph: the maximal subgraph where every EDGE
    * participates in >= k-2 triangles within the subgraph — the
    * edge-level strengthening of [[kCore]] (a k-truss is always inside
    * the (k-1)-core), and the standard "cohesive cluster vs chained
    * coincidence" separator: a transitive chain of borderline near-dup
    * pairs has no triangles and dissolves, a template cluster is
    * triangle-dense and survives.
    *
    * Iterative edge peeling: each round counts per-edge triangle
    * support within the surviving edge set and drops edges under
    * k-2. Monotone (edges only leave), so the fixed `rounds` budget is
    * SQL-replayable round-for-round via unrolled CTEs (the kCore/
    * kmeans pattern; peeling is row deletion, which a recursive CTE
    * cannot express); a converged run skips remaining rounds.
    *
    * Per round: the canonical (lo<hi) edge list self-joins twice to
    * enumerate each triangle ONCE (a<b<c), each triangle credits its
    * three edges (one explode), and a hash aggregate yields per-edge
    * support — all hash-partitioned by edge endpoints; candidate
    * volume is the wedge count, the same bound as [[triangleCounts]].
    * Output: `(src, dst, support)` per surviving canonical edge with
    * its final in-truss support. */
  def kTruss(edges: DataFrame, k: Int, rounds: Int = 4,
      aCol: String = "id_a", bCol: String = "id_b",
      maxDegree: Int = DefaultMaxDegree,
      maxDriverEdges: Long = MaxDriverEdges): DataFrame = {
    require(k >= 3, s"bad k: $k (a truss needs k >= 3)")
    require(rounds >= 1, s"bad rounds: $rounds")
    val minSup = k - 2
    def support(e: DataFrame): DataFrame = {
      val tri = e.select(col("lo").as("a"), col("hi").as("b"))
        .join(e.select(col("lo").as("b"), col("hi").as("c")), "b")
        .join(e.select(col("lo").as("a"), col("hi").as("c")),
          Seq("a", "c"))
      tri.select(explode(array(
          struct(col("a").as("lo"), col("b").as("hi")),
          struct(col("b").as("lo"), col("c").as("hi")),
          struct(col("a").as("lo"), col("c").as("hi")))).as("e"))
        .select(col("e.lo"), col("e.hi"))
        .groupBy("lo", "hi")
        .agg(count(lit(1)).as("support"))
    }
    // the cap applies ONCE at entry: peeling only removes edges, so
    // degrees (and thus wedge volume) only shrink afterwards
    var alive = canonicalEdges(edges, aCol, bCol, maxDegree)
    // the PERSISTED frame backing `alive` (alive itself may be a
    // projection of it, whose unpersist would silently no-op)
    var aliveCache = alive
    var aliveN = alive.count()
    var done = aliveN == 0
    // driver tier (see MaxDriverEdges): the hub cap above already ran
    // distributed (its detection aggregate needs the full edge set);
    // only the sequential peel rounds tier down
    if (driverTier(aliveN, maxDriverEdges)) {
      val rows = alive.select(col("lo"), col("hi")).collect()
      val lo = new Array[Long](rows.length)
      val hi = new Array[Long](rows.length)
      var i = 0
      while (i < rows.length) {
        lo(i) = rows(i).getLong(0); hi(i) = rows(i).getLong(1); i += 1
      }
      aliveCache.unpersist()
      val spark = edges.sparkSession
      import spark.implicits._
      return kTrussLocal(lo, hi, k, rounds).toSeq.sorted
        .toDF("src", "dst", "support")
    }
    // filtered support of the CURRENT alive set — valid as the final
    // answer exactly when the loop ended converged (see below)
    var lastSup: DataFrame = null
    (1 to rounds).foreach { _ =>
      if (!done) {
        // edges with no triangle have no support row, and support()'s
        // keys are a SUBSET of the edge set it scans (every exploded
        // triangle corner is an input edge) — so the filtered support
        // frame IS the next edge set; the r14 rewrite drops the
        // per-round semi-join back against `alive` that re-derived it
        // (measured: the 4-round loop on the cached sf0.1 graph was
        // ~12.6 s with one support pass at 0.56 s — the loop was all
        // per-round stage overhead)
        val sup = TrackedCaches.persist(
          support(alive).filter(col("support") >= minSup))
        val n = sup.count()
        aliveCache.unpersist()
        aliveCache = sup
        alive = sup.select("lo", "hi")
        lastSup = sup
        if (n == aliveN) done = true
        aliveN = n
      }
    }
    // final in-truss support on the survivor set (kCore's final-pass
    // discipline: the reported support is the SUBGRAPH support even
    // when the round budget stopped early). A CONVERGED run needs no
    // extra pass: the last round dropped nothing, so its filtered
    // support — computed over exactly the surviving edge set — already
    // equals `alive join support(alive)` (every survivor has support
    // >= k-2 by convergence, and support keys are a subset of alive).
    if (done && lastSup != null)
      lastSup.select(col("lo").as("src"), col("hi").as("dst"),
        col("support"))
    else
      alive.join(support(alive), Seq("lo", "hi"))
        .select(col("lo").as("src"), col("hi").as("dst"), col("support"))
  }

  /** Local simulation of the [[kTruss]] peel — the driver tier. Same
    * rounds: per-edge triangle support within the surviving canonical
    * (lo < hi) edge set (each triangle a<b<c found once, crediting
    * its three edges), survivors = support >= k-2 (no-support edges
    * drop — support keys are a subset of the edge set), fixpoint on
    * an unchanged count skips remaining rounds, and a non-converged
    * budget pays one final support pass over the survivors (inner
    * join ⇒ zero-triangle survivors drop, exactly the distributed
    * tail). */
  private[operators] def kTrussLocal(lo: Array[Long], hi: Array[Long],
      k: Int, rounds: Int): Array[(Long, Long, Long)] = {
    import scala.collection.mutable
    val minSup = k - 2
    // support within the edge set: for each (a,b), common c over the
    // ASCENDING out-neighbor lists N+(a), N+(b) closes triangle a<b<c
    def support(edges: Array[(Long, Long)])
        : mutable.HashMap[(Long, Long), Long] = {
      val nplus = mutable.LongMap.empty[mutable.ArrayBuilder.ofLong]
      edges.foreach { case (a, b) =>
        nplus.getOrElseUpdate(a, new mutable.ArrayBuilder.ofLong) += b
      }
      val adj = mutable.LongMap.empty[Array[Long]]
      nplus.foreachEntry { (a, b) =>
        val arr = b.result(); java.util.Arrays.sort(arr)
        adj.update(a, arr)
      }
      val sup = mutable.HashMap.empty[(Long, Long), Long]
      def credit(e: (Long, Long)): Unit =
        sup.update(e, sup.getOrElse(e, 0L) + 1L)
      edges.foreach { case (a, b) =>
        (adj.get(a), adj.get(b)) match {
          case (Some(na), Some(nb)) =>
            // sorted-merge intersection of N+(a) and N+(b)
            var i = 0; var j = 0
            while (i < na.length && j < nb.length) {
              if (na(i) < nb(j)) i += 1
              else if (na(i) > nb(j)) j += 1
              else {
                val c = na(i)
                credit((a, b)); credit((b, c)); credit((a, c))
                i += 1; j += 1
              }
            }
          case _ =>
        }
      }
      sup
    }
    var alive = lo.indices.map(i => (lo(i), hi(i))).toArray
    var aliveN = alive.length.toLong
    var done = aliveN == 0
    var lastSup: mutable.HashMap[(Long, Long), Long] = null
    (1 to rounds).foreach { _ =>
      if (!done) {
        val sup = support(alive).filter(_._2 >= minSup)
        val n = sup.size.toLong
        alive = sup.keysIterator.toArray
        lastSup = sup
        if (n == aliveN) done = true
        aliveN = n
      }
    }
    val fin =
      if (done && lastSup != null) lastSup
      else support(alive)
    fin.iterator.map { case ((a, b), s) => (a, b, s) }.toArray
  }

  /** Per-node local clustering coefficient: 2T / (deg * (deg - 1)),
    * 0 for degree-1 nodes — triangles plus one degree aggregate over
    * the shared cached canonical edges, joined on the (small) node
    * frame. High coefficient = cohesive duplicate cluster; low on a
    * high-degree node = boilerplate template hub. */
  def clusteringCoefficients(edges: DataFrame, aCol: String = "id_a",
      bCol: String = "id_b",
      maxDegree: Int = DefaultMaxDegree): DataFrame = {
    val e = canonicalEdges(edges, aCol, bCol, maxDegree)
    val deg = e.select(explode(array(col("lo"), col("hi"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("deg"))
    deg.join(triFromCanonical(e), Seq("id"), "left")
      .withColumn("n_triangles", coalesce(col("n_triangles"), lit(0L)))
      .withColumn("coeff",
        when(col("deg") >= 2,
          round(col("n_triangles") * 2.0 /
            (col("deg") * (col("deg") - 1)), 6))
        .otherwise(lit(0.0)))
  }

  /** Adamic–Adar link prediction over the canonical (capped) edge set:
    * for every NON-adjacent pair `(a, b)` sharing >= 1 common neighbor,
    * `score = Σ_z 1/ln(deg(z))` over common neighbors `z` — rare
    * bridges count more than boilerplate hubs, which is why this beats
    * raw common-neighbor counts for "these two docs will turn out to
    * be duplicates" triage. A common neighbor has degree >= 2 by
    * construction, but ln(2)..: the degree-2 weight 1/ln 2 is the
    * maximum, never a division by ln 1 = 0. Output: top `topK`
    * candidate pairs by (score DESC, a, b) — deterministic because the
    * 6dp-rounded score is a sum of identical IEEE `1/ln(integer)`
    * terms on both engines.
    *
    * Scale shape: candidate volume is the WEDGE count, the exact
    * quantity [[DefaultMaxDegree]] bounds (<= maxDegree² per node);
    * the adjacency anti-join and the degree join are edge-sized; the
    * top-k is a K-bounded ordered limit. On a dense CO-OCCURRENCE
    * graph, prune weight-1 noise edges first
    * ([[bipartiteProject]]'s `minWeight`) — measured at sf0.1: the
    * raw co-purchase graph's 850k weight-1 edges cost 53 s of wedges,
    * the >= 2-pruned graph runs sub-second with the same top pairs'
    * semantics sharpened, not weakened. */
  def adamicAdar(edges: DataFrame, aCol: String = "id_a",
      bCol: String = "id_b", topK: Int = 100,
      maxDegree: Int = DefaultMaxDegree): DataFrame = {
    require(topK >= 1 && topK <= 100000, s"bad topK: $topK")
    val e = canonicalEdges(edges, aCol, bCol, maxDegree)
    val sym = e.select(col("lo").as("z"), col("hi").as("n"))
      .unionByName(e.select(col("hi").as("z"), col("lo").as("n")))
    val deg = sym.groupBy("z").agg(count(lit(1)).as("deg"))
    val wedges = sym.as("w1").join(sym.as("w2"),
        col("w1.z") === col("w2.z") && col("w1.n") < col("w2.n"))
      .select(col("w1.n").as("a"), col("w2.n").as("b"),
        col("w1.z").as("z"))
    val scored = wedges
      .join(e.withColumnRenamed("lo", "a").withColumnRenamed("hi", "b"),
        Seq("a", "b"), "left_anti")
      .join(deg, "z")
      .groupBy("a", "b")
      .agg(count(lit(1)).as("common_neighbors"),
        round(sum(lit(1.0) / log(col("deg").cast("double"))), 6)
          .as("score"))
    scored.orderBy(col("score").desc, col("a"), col("b")).limit(topK)
  }

  /** Weighted bipartite projection: (left, right) memberships — orders
    * x parts, sessions x docs, users x templates — projected onto
    * right-right co-occurrence edges weighted by the number of shared
    * left keys. This is how the co-purchase / co-view graphs the
    * wedge family consumes get BUILT. The self-join is quadratic in
    * the LEFT-side degree (one 10k-item order contributes ~50M pairs),
    * so `maxLeftDegree` is ENFORCED with the loud-truncation contract:
    * over-cap left keys keep their `maxLeftDegree` lowest right-ids.
    * `minWeight` prunes the long noise tail before it shuffles onward.
    * Output: `(id_a, id_b, weight)` with `id_a < id_b`. */
  def bipartiteProject(df: DataFrame, leftCol: String, rightCol: String,
      maxLeftDegree: Int = 1000, minWeight: Long = 1L): DataFrame = {
    require(maxLeftDegree >= 2, s"bad maxLeftDegree: $maxLeftDegree")
    require(minWeight >= 1L, s"bad minWeight: $minWeight")
    val m = TrackedCaches.persist(df
      .select(col(leftCol).as("l"), col(rightCol).cast("long").as("r"))
      .distinct())
    val hubs = m.groupBy("l").agg(count(lit(1)).as("deg"))
      .filter(col("deg") > maxLeftDegree)
      .orderBy(col("deg").desc, col("l")).limit(5).collect()
    val kept =
      if (hubs.isEmpty) m
      else {
        System.err.println(
          s"[graft.graph] bipartite left-degree cap $maxLeftDegree " +
            "TRUNCATED key(s) " +
            hubs.map(r => s"${r.get(0)} (deg ${r.getLong(1)})")
              .mkString(", ") +
            " — co-occurrence through dropped memberships is NOT " +
            "counted; raise maxLeftDegree or pre-filter")
        m.withColumn("__rk",
            row_number().over(Window.partitionBy("l").orderBy("r")))
          .filter(col("__rk") <= maxLeftDegree).drop("__rk")
      }
    kept.as("a").join(kept.as("b"),
        col("a.l") === col("b.l") && col("a.r") < col("b.r"))
      .groupBy(col("a.r").as("id_a"), col("b.r").as("id_b"))
      .agg(count(lit(1)).as("weight"))
      .filter(col("weight") >= minWeight)
  }

  /** Newman modularity of a NODE PARTITION over an undirected simple
    * graph — "is this community assignment better than chance?", the
    * standard quality score for any clustering of a similarity graph
    * (here typically: do near-duplicates stay within their source?).
    * `Q = Σ_c m_c/m − Σ_c (d_c/2m)²` evaluated as ONE float
    * expression over three integral aggregates (within-community
    * edge count, total edge count, Σ d_c² in decimal — degree sums
    * square past BIGINT at corpus scale), so the score is
    * oracle-exact at 6dp. Edges are canonicalized
    * (least/greatest + distinct, self-loops dropped); edges touching
    * an unlabeled node are excluded and reported.
    *
    * One row: `(n_edges, n_communities, within_edges, n_unlabeled_
    * edges, modularity)`. Scale shape: two id-keyed equi-joins
    * (labels onto endpoints), degree and community reductions —
    * never an all-pairs form. */
  def modularity(nodes: DataFrame, edges: DataFrame, idCol: String,
      commCol: String, aCol: String = "id_a", bCol: String = "id_b")
      : DataFrame = {
    val canon = edges
      .select(least(col(aCol), col(bCol)).as("__a"),
        greatest(col(aCol), col(bCol)).as("__b"))
      .filter(col("__a") =!= col("__b")).distinct()
    val lab = nodes
      .filter(col(idCol).isNotNull && col(commCol).isNotNull)
      .select(col(idCol).as("__id"), col(commCol).as("__c"))
    // persist the TAGGED edge frame: the degree pass, the community
    // reduction, and the edge counts all read it — uncached, each
    // would recompute the (possibly expensive) upstream edge
    // generation (measured: 292 s -> jaccard's own 183 s at the 100x
    // rehearsal once this cache landed)
    val tagged = TrackedCaches.persist(canon
      .join(lab.select(col("__id").as("__a"), col("__c").as("__ca")),
        Seq("__a"), "left")
      .join(lab.select(col("__id").as("__b"), col("__c").as("__cb")),
        Seq("__b"), "left"))
    val labeled =
      tagged.filter(col("__ca").isNotNull && col("__cb").isNotNull)
    // degrees over the LABELED edge set, summed per community
    val degrees = labeled.select(col("__ca").as("__c"))
      .unionAll(labeled.select(col("__cb").as("__c")))
      .groupBy("__c").agg(count(lit(1)).as("d"))
    val dsq = degrees.agg(
      count(lit(1)).as("n_communities"),
      sum(col("d").cast("decimal(19,0)") * col("d")
        .cast("decimal(19,0)")).as("__dsq"))
    val counts = tagged.agg(
      count(lit(1)).as("n_all"),
      sum(when(col("__ca").isNull || col("__cb").isNull, 1L)
        .otherwise(0L)).as("n_unlabeled_edges"),
      sum(when(col("__ca") === col("__cb"), 1L).otherwise(0L))
        .as("within_edges"))
    val m = col("n_all") - col("n_unlabeled_edges")
    counts.crossJoin(broadcast(dsq))
      .select(m.as("n_edges"), col("n_communities"),
        col("within_edges"), col("n_unlabeled_edges"),
        round(when(m > 0,
          col("within_edges") / m.cast("double") -
            col("__dsq").cast("double") /
              (lit(4.0) * m.cast("double") * m.cast("double"))), 6)
          .as("modularity"))
  }

  /** Personalized PageRank — topic-sensitive rank with the restart
    * mass concentrated on a SEED set (Haveliwala 2002): the
    * "relevance to these trusted/labeled nodes" score behind seed-
    * based corpus expansion (find pages similar to a curated allow
    * list) and spam-mass style triage. Identical iteration discipline
    * to [[pageRank]] — every rank/contribution rounds to 8dp and
    * per-node sums fold in sorted order, so an SQL oracle replays the
    * iteration bit-for-bit; the per-round plan is cut at the RDD
    * boundary (the 3^iters-lineage lesson).
    *
    * Differences from the uniform walk: rank starts as `1/|S|` ON THE
    * SEEDS (zero elsewhere) and the `(1-d)` teleport returns to seeds
    * only, so mass decays with graph distance from the seed set.
    * Nodes outside the seed set keep whatever flows to them; isolated
    * seeds keep their restart mass. */
  def personalizedPageRank(edges: DataFrame, seedIds: DataFrame,
      aCol: String = "id_a", bCol: String = "id_b",
      iterations: Int = 3, damping: Double = 0.85,
      maxDriverEdges: Long = MaxDriverEdges): DataFrame = {
    require(iterations >= 0, s"iterations must be >= 0: $iterations")
    val sym = symEdges(edges, aCol, bCol)
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val seeds = seedIds.select(
        col(seedIds.columns.head).cast("long").as("src"))
      .distinct().persist(StorageLevel.MEMORY_AND_DISK)
    val nS = seeds.count() // one scalar to the driver (seed count)
    require(nS >= 1, "personalizedPageRank needs at least one seed")
    val spark = edges.sparkSession
    // driver tier (see MaxDriverEdges): seed count is node-bounded but
    // independent of the edge set, so it shares the same cap
    val nEdges = sym.count()
    if (driverTier(nEdges, maxDriverEdges) &&
        driverTier(nS, maxDriverEdges)) {
      val (s, d) = collectSym(sym)
      val seedArr = seeds.collect().map(_.getLong(0))
      sym.unpersist(); seeds.unpersist()
      import spark.implicits._
      return TrackedCaches.track(
        pprLocal(s, d, seedArr, iterations, damping).toSeq.sortBy(_._1)
          .toDF("id", "is_seed", "rank"))
    }
    val deg = sym.groupBy("src").agg(count(lit(1)).as("deg"))
    val adj = sym.join(deg, "src").persist(StorageLevel.MEMORY_AND_DISK)
    def r8(x: Double): Double =
      BigDecimal(x).setScale(8, BigDecimal.RoundingMode.HALF_UP).toDouble
    val base = r8((1.0 - damping) / nS)
    // node universe = graph nodes UNION seeds (an off-graph seed still
    // holds restart mass), with the seed flag carried once
    val nodes = deg.select("src").union(seeds).distinct()
      .join(seeds.withColumn("__s", lit(1)), Seq("src"), "left")
      .select(col("src"), coalesce(col("__s"), lit(0)).as("is_seed"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    nodes.count()
    var ranks = nodes.select(col("src"),
      when(col("is_seed") === 1, lit(r8(1.0 / nS)))
        .otherwise(lit(0.0)).as("rank"))
    for (_ <- 1 to iterations) {
      val contribs = adj.join(ranks, "src")
        .filter(col("rank") > 0)
        .select(col("dst"), round(col("rank") / col("deg"), 8).as("contrib"))
      val sums = contribs.groupBy(col("dst").as("src"))
        .agg(aggregate(sort_array(collect_list(col("contrib"))),
          lit(0.0), (acc, c) => acc + c).as("__cs"))
      val next = nodes.join(sums, Seq("src"), "left")
        .select(col("src"), round(
          when(col("is_seed") === 1, lit(base)).otherwise(lit(0.0)) +
            lit(damping) * coalesce(col("__cs"), lit(0.0)), 8).as("rank"))
      // plan cut per round — the chained form measured SLOWER (see
      // pageRank's r14 note)
      ranks = spark.createDataFrame(next.rdd, next.schema)
    }
    val out = nodes.join(ranks, Seq("src"))
      .select(col("src").as("id"), col("is_seed"), col("rank"))
    out.persist(StorageLevel.MEMORY_AND_DISK).count()
    sym.unpersist(); adj.unpersist(); seeds.unpersist(); nodes.unpersist()
    TrackedCaches.track(out)
  }

  /** Local simulation of the [[personalizedPageRank]] rounds — the
    * driver tier. Same per-round math as the distributed loop:
    * positive-rank nodes contribute round8(rank / deg), per-node sums
    * fold ascending from 0.0 WITHOUT rounding, and the next rank is
    * round8(seedBase-or-0 + damping * sum) over the node universe
    * (graph nodes ∪ seeds; nodes with no contribution coalesce to
    * sum 0.0). */
  private[operators] def pprLocal(src: Array[Long], dst: Array[Long],
      seeds: Array[Long], iterations: Int, damping: Double)
      : Array[(Long, Int, Double)] = {
    import scala.collection.mutable
    val deg = mutable.LongMap.empty[Long]
    var i = 0
    while (i < src.length) {
      deg.update(src(i), deg.getOrElse(src(i), 0L) + 1L); i += 1
    }
    val nS = seeds.length
    val base = r8((1.0 - damping) / nS)
    val isSeed = mutable.LongMap.empty[Boolean]
    seeds.foreach(s => isSeed.update(s, true))
    // node universe = graph nodes ∪ seeds
    val nodes = mutable.LongMap.empty[Boolean]
    deg.foreachEntry((v, _) => nodes.update(v, isSeed.getOrElse(v, false)))
    seeds.foreach(s => nodes.update(s, true))
    var ranks = mutable.LongMap.empty[Double]
    nodes.foreachEntry((v, seed) =>
      ranks.update(v, if (seed) r8(1.0 / nS) else 0.0))
    val order = Array.range(0, src.length).sortBy(dst(_))
    for (_ <- 1 to iterations) {
      // contributions only from positive-rank graph nodes
      val contrib = mutable.LongMap.empty[Double]
      deg.foreachEntry { (v, dv) =>
        val rv = ranks(v)
        if (rv > 0) contrib.update(v, r8(rv / dv))
      }
      val sums = mutable.LongMap.empty[Double]
      var j = 0
      while (j < order.length) {
        val u = dst(order(j))
        var k = j
        val buf = mutable.ArrayBuilder.make[Double]
        while (k < order.length && dst(order(k)) == u) {
          contrib.get(src(order(k))).foreach(buf += _)
          k += 1
        }
        val cs = buf.result()
        if (cs.nonEmpty) {
          java.util.Arrays.sort(cs)
          var sum = 0.0
          var t = 0
          while (t < cs.length) { sum += cs(t); t += 1 }
          sums.update(u, sum)
        }
        j = k
      }
      val next = mutable.LongMap.empty[Double]
      nodes.foreachEntry { (v, seed) =>
        next.update(v, r8((if (seed) base else 0.0) +
          damping * sums.getOrElse(v, 0.0)))
      }
      ranks = next
    }
    nodes.toArray.map { case (v, seed) =>
      (v, if (seed) 1 else 0, ranks(v))
    }
  }
}
