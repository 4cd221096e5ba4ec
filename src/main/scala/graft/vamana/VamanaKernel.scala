package graft.vamana

import scala.collection.mutable
import scala.util.Random

/** Build/search parameters — the reference's constructor params
  * (vamana.h:19-25): R = max out-degree, L = build/search beam width,
  * alpha = prune slack, efSearch = result-pool bound at query time.
  * Unlike the reference we carry an explicit seed: its build is
  * nondeterministic (std::random_device, vamana.h:121), which makes results
  * untestable; we diverge deliberately (SURVEY.md §5.4).
  */
final case class VamanaParams(
    dim: Int,
    maxDegree: Int = 32,
    beamWidth: Int = 64,
    alpha: Float = 1.2f,
    efSearch: Int = 128,
    seed: Long = 42L,
    paperPrune: Boolean = false,
    metric: String = "l2") {
  require(dim > 0, "dim must be positive")
  require(maxDegree > 0 && beamWidth > 0 && efSearch > 0, "R/L/ef must be positive")
  require(alpha >= 1.0f, "alpha must be >= 1")
  // "ip" is the reference's unimplemented TODO (readme.md:76); both non-L2
  // metrics are served by reduction to L2 (MetricReduction), so the graph
  // kernel itself stays squared-Euclidean like the reference.
  require(Set("l2", "cos", "ip").contains(metric), s"unsupported metric: $metric")
}

/** Metric→L2 reductions: the graph kernel only ever sees squared L2.
  *  - cos: normalize all vectors; L2² on the unit sphere = 2−2·cos, a
  *    monotone transform of cosine similarity.
  *  - ip (MIPS): augment index vectors to [x, sqrt(M²−‖x‖²)] with M = max
  *    corpus norm, queries to [q, 0]; nearest-L2 order on the augmented
  *    space equals largest-inner-product order (Bachrach et al. 2014).
  */
object MetricReduction {

  def normOf(v: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    while (i < v.length) { s += v(i).toDouble * v(i); i += 1 }
    math.sqrt(s)
  }

  def normalize(v: Array[Float]): Array[Float] = {
    val n = normOf(v)
    if (n == 0.0) v.clone() else v.map(x => (x / n).toFloat)
  }

  def augmentIndexVec(v: Array[Float], maxNorm: Double): Array[Float] = {
    val n = normOf(v)
    val extra = math.sqrt(math.max(0.0, maxNorm * maxNorm - n * n))
    v :+ extra.toFloat
  }

  def augmentQueryVec(q: Array[Float]): Array[Float] = q :+ 0.0f

  /** Transform corpus vectors for the given metric; returns (vectors ready
    * for the L2 kernel, kernel dim, max corpus norm for ip). */
  def prepareIndex(vecs: Array[Array[Float]], metric: String, dim: Int): (Array[Array[Float]], Int, Double) =
    metric match {
      case "l2" => (vecs, dim, 0.0)
      case "cos" => (vecs.map(normalize), dim, 0.0)
      case "ip" =>
        val m = if (vecs.isEmpty) 0.0 else vecs.map(normOf).max
        (vecs.map(augmentIndexVec(_, m)), dim + 1, m)
    }

  def prepareQuery(q: Array[Float], metric: String): Array[Float] = metric match {
    case "l2" => q
    case "cos" => normalize(q)
    case "ip" => augmentQueryVec(q)
  }
}

/** An in-memory Vamana graph over a point set — the serving-side twin of the
  * reference's index state (points_/ids_/graph_/medoid_, vamana.h:26-38).
  * Node identity is positional (internal id = array index); `ids` remaps to
  * caller-assigned external ids exactly like vamana.h:542.
  */
final class LocalIndex(
    val ids: Array[Long],
    val points: Array[Array[Float]],
    val graph: Array[Array[Int]],
    val medoid: Int,
    val params: VamanaParams) extends Serializable {
  def size: Int = points.length
}

/** The sequential Vamana kernel: plain Scala, no Spark dependency, heavily
  * unit-tested. The distributed build ([[VamanaIndexer]]) runs this per
  * shard inside `mapPartitions`; the serving path broadcasts a [[LocalIndex]]
  * and runs [[search]] per query.
  *
  * Algorithm follows the reference semantics (SURVEY.md §2a G1-G4, Q1):
  * random R-regular init graph, two passes (alpha=1 then alpha=user) of
  * greedy-search → robust-prune → bidirectional edge insertion. Differences
  * (all deliberate, documented in SURVEY.md Appendix A): seeded RNG; medoid
  * via centroid-nearest (O(n·dim)) instead of the O(n²·dim) exact scan; no
  * O(n²) adjacency bit-matrix in init; the robustPrune empty-candidate bug
  * (vamana.h:742 pushes -1) is not replicated.
  */
object VamanaKernel {

  /** Squared L2, float accumulate — mirrors ComputeDistance (vamana.h:694-702). */
  def l2sq(a: Array[Float], b: Array[Float]): Float = {
    var s = 0.0f
    var i = 0
    val n = a.length
    while (i < n) {
      val d = a(i) - b(i)
      s += d * d
      i += 1
    }
    s
  }

  /** Nearest point to the per-dimension centroid — scalable medoid stand-in
    * for FindMedoid (vamana.h:656-692). */
  def centroidMedoid(points: Array[Array[Float]]): Int = {
    val n = points.length
    require(n > 0, "empty point set")
    val dim = points(0).length
    val c = new Array[Float](dim)
    var i = 0
    while (i < n) {
      val p = points(i)
      var j = 0
      while (j < dim) { c(j) += p(j); j += 1 }
      i += 1
    }
    var j = 0
    while (j < dim) { c(j) /= n; j += 1 }
    var best = 0
    var bestD = Float.MaxValue
    i = 0
    while (i < n) {
      val d = l2sq(points(i), c)
      if (d < bestD) { bestD = d; best = i }
      i += 1
    }
    best
  }

  /** Random init graph: up to R distinct random out-neighbors per node
    * (G1, vamana.h:335-387 — minus the O(n²) bit matrix and in-degree cap,
    * which are init heuristics immediately destroyed by pruning). */
  def initGraph(n: Int, r: Int, rng: Random): Array[Array[Int]] = {
    val g = new Array[Array[Int]](n)
    var i = 0
    while (i < n) {
      val deg = math.min(r, n - 1)
      val set = new mutable.HashSet[Int]
      while (set.size < deg) {
        val t = rng.nextInt(n)
        if (t != i) set += t
      }
      g(i) = set.toArray
      i += 1
    }
    g
  }

  /** Per-thread working memory of one traversal or prune, reused across
    * calls so the hot loops allocate nothing but their results.
    *  - visited marks: node i is marked iff `marks(i) == epoch`, so bumping
    *    the epoch clears every mark in O(1); when the epoch would overflow,
    *    the array is zeroed and the epoch restarts at 1.
    *  - the beam: up to `beamL` (dist, node) entries ascending by
    *    (dist, node), each flagged once expanded.
    *  - the pool: expanded nodes in expansion order, with their distances.
    *  - a `Long` key buffer for [[robustPrune]]'s packed sort.
    * Memory: the marks grow to the largest point count the thread has
    * searched and are kept, about 4·n bytes per thread (4 MB for a
    * 1M-point shard); the beam, pool and key buffers are O(beamL + pool).
    */
  private final class Scratch {
    private var marks = new Array[Int](0)
    var epoch = 0
    private var beamIds = new Array[Int](0)
    private var beamDists = new Array[Float](0)
    private var expanded = new Array[Boolean](0)
    private var beamL = 0
    private var beamSize = 0
    private var poolIds = new Array[Int](64)
    private var poolDists = new Array[Float](64)
    private var poolSize = 0
    private var keys = new Array[Long](64)
    /** Distance computations of the current traversal (= nodes marked). */
    var comps = 0L
    var busy = false

    /** Clear all marks for node ids below `n`. */
    def newEpoch(n: Int): Unit = {
      if (marks.length < n) marks = new Array[Int](n)
      if (epoch == Int.MaxValue) { java.util.Arrays.fill(marks, 0); epoch = 0 }
      epoch += 1
    }

    /** Mark `i` visited; false if it already was. */
    def mark(i: Int): Boolean =
      if (marks(i) == epoch) false else { marks(i) = epoch; true }

    def keyBuffer(m: Int): Array[Long] = {
      if (keys.length < m) keys = new Array[Long](math.max(m, keys.length * 2))
      keys
    }

    /** Start a traversal of `n` nodes with beam width `width`. */
    def begin(n: Int, width: Int): Unit = {
      newEpoch(n)
      if (beamIds.length < width + 1) {
        beamIds = new Array[Int](width + 1)
        beamDists = new Array[Float](width + 1)
        expanded = new Array[Boolean](width + 1)
      }
      beamL = width
      beamSize = 0
      poolSize = 0
      comps = 0L
    }

    /** Score a newly marked node into the beam (evicting its farthest entry
      * when full); ties order by node id. */
    def offer(node: Int, dist: Float): Unit = {
      comps += 1
      if (beamSize == beamL && dist >= beamDists(beamSize - 1)) return
      var lo = 0
      var hi = beamSize
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (beamDists(mid) < dist || (beamDists(mid) == dist && beamIds(mid) < node)) lo = mid + 1
        else hi = mid
      }
      var k = math.min(beamSize, beamL - 1)
      while (k > lo) {
        beamIds(k) = beamIds(k - 1); beamDists(k) = beamDists(k - 1); expanded(k) = expanded(k - 1)
        k -= 1
      }
      beamIds(lo) = node; beamDists(lo) = dist; expanded(lo) = false
      if (beamSize < beamL) beamSize += 1
    }

    /** Expand the nearest unexpanded beam entry into the pool and return
      * its node, or -1 when the whole beam is expanded. */
    def expandNext(): Int = {
      var i = 0
      while (i < beamSize && expanded(i)) i += 1
      if (i == beamSize) -1
      else {
        expanded(i) = true
        pool(beamIds(i), beamDists(i))
        beamIds(i)
      }
    }

    def pool(node: Int, dist: Float): Unit = {
      if (poolSize == poolIds.length) {
        poolIds = java.util.Arrays.copyOf(poolIds, poolSize * 2)
        poolDists = java.util.Arrays.copyOf(poolDists, poolSize * 2)
      }
      poolIds(poolSize) = node
      poolDists(poolSize) = dist
      poolSize += 1
    }

    def result: (Array[Int], Array[Float]) =
      (java.util.Arrays.copyOf(poolIds, poolSize), java.util.Arrays.copyOf(poolDists, poolSize))
  }

  private val scratch = ThreadLocal.withInitial[Scratch](() => new Scratch)

  /** Run `f` on this thread's `Scratch` (a fresh one if it is in use,
    * e.g. by a scoring function that itself searches). */
  private def withScratch[A](f: Scratch => A): A = {
    val cached = scratch.get
    val s = if (cached.busy) new Scratch else cached
    s.busy = true
    try f(s) finally s.busy = false
  }

  /** Test hook: set this thread's visited-mark epoch. */
  private[vamana] def setScratchEpoch(e: Int): Unit = scratch.get.epoch = e
  private[vamana] def scratchEpoch: Int = scratch.get.epoch

  /** Greedy beam search (G2, vamana.h:559-629): expand the nearest unvisited
    * beam entry, add its neighbors, truncate the beam to `beamL`. Returns the
    * visited candidate pool as parallel (ids, dists) arrays, unsorted.
    */
  def greedySearch(
      points: Array[Array[Float]],
      graph: Array[Array[Int]],
      start: Int,
      query: Array[Float],
      beamL: Int): (Array[Int], Array[Float]) = {
    val (ids, dists, _) = greedySearchCounted(points, graph, start, query, beamL)
    (ids, dists)
  }

  /** [[greedySearch]] + the number of distance computations (= unique nodes
    * scored), for the search-stats surface the reference stubs
    * (go_api:163-171). */
  def greedySearchCounted(
      points: Array[Array[Float]],
      graph: Array[Array[Int]],
      start: Int,
      query: Array[Float],
      beamL: Int): (Array[Int], Array[Float], Long) = {
    val n = points.length
    // FULL-BEAM regime (beamL >= n): the beam can never evict, so graph
    // traversal would score every REACHABLE node at O(n) distance cost —
    // make it every node, period, at the same cost. This removes the
    // connectivity hypothesis from every full-beam exactness theorem:
    // duplicate-dense shards (e.g. a hot region of near-identical vectors
    // after a rebalance split) can build graphs whose degree-capped pruned
    // adjacency strands distant points, and the exactness gates must not
    // inherit that failure mode.
    if (beamL >= n) {
      // skip null slots: insert() searches mid-batch against a grown array
      // whose not-yet-filled tail is null (those slots are unreachable by
      // graph traversal too, so the regimes agree)
      val ids = new Array[Int](n)
      val dists = new Array[Float](n)
      var m = 0
      var i = 0
      while (i < n) {
        if (points(i) != null) { ids(m) = i; dists(m) = l2sq(points(i), query); m += 1 }
        i += 1
      }
      return (java.util.Arrays.copyOf(ids, m), java.util.Arrays.copyOf(dists, m), m.toLong)
    }
    withScratch { s =>
      s.begin(n, beamL)
      s.mark(start)
      s.offer(start, l2sq(points(start), query))
      var node = s.expandNext()
      while (node >= 0) {
        val nbrs = graph(node)
        var j = 0
        while (j < nbrs.length) {
          val nb = nbrs(j)
          if (nb >= 0 && nb < n && s.mark(nb)) s.offer(nb, l2sq(points(nb), query))
          j += 1
        }
        node = s.expandNext()
      }
      val (ids, dists) = s.result
      (ids, dists, s.comps)
    }
  }

  /** [[greedySearchCounted]] with a PLUGGABLE node score — the traversal
    * skeleton the DiskANN disk design needs: beam ordering and eviction run
    * on `score(node)` (e.g. an ADC lookup over PQ codes) while the caller
    * reranks the returned pool with exact distances afterwards. The
    * full-beam exactness theorem survives any scoring function: at
    * `beamL >= n` the traversal short-circuits to an exhaustive scan (same
    * O(n) scoring cost, no connectivity hypothesis), so the pool is the
    * WHOLE shard no matter how nodes are scored, and an EXACT rerank of
    * that pool is exact kNN — the invariant `vamana_pq_gate` hash-checks.
    * Shares the beam, visited marks and pool with the l2sq path;
    * only this loop calls `score`, so serving search stays monomorphic. */
  def greedySearchScored(
      score: Int => Float,
      graph: Array[Array[Int]],
      start: Int,
      beamL: Int): (Array[Int], Array[Float]) = {
    val n = graph.length
    // full-beam regime: exhaustive score, exactly as in greedySearchCounted
    // — the PQ full-beam gates' theorem must not depend on connectivity
    if (beamL >= n) {
      val ids = new Array[Int](n)
      val dists = new Array[Float](n)
      var i = 0
      while (i < n) { ids(i) = i; dists(i) = score(i); i += 1 }
      return (ids, dists)
    }
    withScratch { s =>
      s.begin(n, beamL)
      s.mark(start)
      s.offer(start, score(start))
      var node = s.expandNext()
      while (node >= 0) {
        val nbrs = graph(node)
        var j = 0
        while (j < nbrs.length) {
          val nb = nbrs(j)
          if (nb >= 0 && nb < n && s.mark(nb)) s.offer(nb, score(nb))
          j += 1
        }
        node = s.expandNext()
      }
      s.result
    }
  }

  /** `(dist, id)` packed into one `Long` whose signed order is
    * `java.lang.Float.compare` on the distance, then the id (ids must be
    * non-negative): the upper half holds the float's order-preserving int
    * bits, the lower half the id. */
  private[vamana] def packKey(dist: Float, id: Int): Long = {
    val b = java.lang.Float.floatToIntBits(dist)
    ((b ^ ((b >> 31) & 0x7fffffff)).toLong << 32) | (id & 0xffffffffL)
  }

  private[vamana] def keyDist(key: Long): Float = {
    val b = (key >> 32).toInt
    java.lang.Float.intBitsToFloat(b ^ ((b >> 31) & 0x7fffffff))
  }

  @inline private def keyId(key: Long): Int = key.toInt

  /** Robust prune (G3, vamana.h:722-760). Candidates are (internal id, dist
    * to p) for p itself excluded. Two rules:
    *  - reference (default): fix p* = nearest candidate once; keep c while
    *    `alpha·d(p*,c) >= d(p,c)`, cap R  (what produced the published 90.1%)
    *  - paper (paperPrune=true): DiskANN iterative re-selection — add the
    *    nearest remaining candidate, then drop every c with
    *    `alpha·d(added,c) <= d(p,c)`.
    * Candidates are ranked by (dist, id) through one primitive sort of
    * [[packKey]]s; a duplicate id keeps its nearest entry.
    */
  def robustPrune(
      points: Array[Array[Float]],
      p: Int,
      candIds: Array[Int],
      candDists: Array[Float],
      alpha: Float,
      r: Int,
      paperPrune: Boolean): Array[Int] = withScratch { s =>
    // sort by (dist, id), then dedup + drop self in place
    val m = candIds.length
    val keys = s.keyBuffer(m)
    var i = 0
    while (i < m) { keys(i) = packKey(candDists(i), candIds(i)); i += 1 }
    java.util.Arrays.sort(keys, 0, m)
    s.newEpoch(points.length)
    var u = 0
    i = 0
    while (i < m) {
      val c = keyId(keys(i))
      if (c != p && s.mark(c)) { keys(u) = keys(i); u += 1 }
      i += 1
    }
    if (u == 0) Array.emptyIntArray
    else {
      val out = new Array[Int](math.max(1, math.min(r, u)))
      var o = 0
      if (!paperPrune) {
        val pStar = keyId(keys(0))
        out(0) = pStar
        o = 1
        val pStarVec = points(pStar)
        i = 1
        while (i < u && o < r) {
          val c = keyId(keys(i))
          if (alpha * l2sq(pStarVec, points(c)) >= keyDist(keys(i))) { out(o) = c; o += 1 }
          i += 1
        }
      } else {
        val dead = new Array[Boolean](u)
        i = 0
        while (i < u && o < r) {
          if (!dead(i)) {
            val added = keyId(keys(i))
            out(o) = added
            o += 1
            val addedVec = points(added)
            var j = i + 1
            while (j < u) {
              if (!dead(j) && alpha * l2sq(addedVec, points(keyId(keys(j)))) <= keyDist(keys(j))) dead(j) = true
              j += 1
            }
          }
          i += 1
        }
      }
      if (o == out.length) out else java.util.Arrays.copyOf(out, o)
    }
  }

  /** [[robustPrune]] over external-id candidates with inline vectors — used
    * by the distributed merge step, where the full point array isn't in
    * scope (candidates arrive via a join). Same rules, same tie-breaking. */
  def robustPruneVecs(
      pVec: Array[Float],
      candIds: Array[Long],
      candVecs: Array[Array[Float]],
      alpha: Float,
      r: Int,
      paperPrune: Boolean): Array[Long] = {
    val dists = candVecs.map(l2sq(pVec, _))
    val order = candIds.indices.toArray.sortBy(i => (dists(i), candIds(i)))
    val seen = new mutable.HashSet[Long]
    val keep = new mutable.ArrayBuffer[Int](order.length)
    for (i <- order) if (seen.add(candIds(i))) keep += i
    if (keep.isEmpty) return Array.empty
    val out = new mutable.ArrayBuffer[Long](r)
    if (!paperPrune) {
      val pStarIdx = keep(0)
      out += candIds(pStarIdx)
      var i = 1
      while (i < keep.length && out.length < r) {
        val c = keep(i)
        if (alpha * l2sq(candVecs(pStarIdx), candVecs(c)) >= dists(c)) out += candIds(c)
        i += 1
      }
    } else {
      val alive = Array.fill(keep.length)(true)
      var i = 0
      while (i < keep.length && out.length < r) {
        if (alive(i)) {
          val added = keep(i)
          out += candIds(added)
          var j = i + 1
          while (j < keep.length) {
            if (alive(j) && alpha * l2sq(candVecs(added), candVecs(keep(j))) <= dists(keep(j))) alive(j) = false
            j += 1
          }
        }
        i += 1
      }
    }
    out.toArray
  }

  /** Add the back-edge `src → t` (vamana.h:270-288): append `src` when
    * `graph(t)` lacks it and has room, else re-prune `t` over its list plus
    * `src`. Reads and writes only `graph(t)`, and replaces the list rather
    * than mutating it. */
  private def addBackEdge(points: Array[Array[Float]], graph: Array[Array[Int]], t: Int, src: Int,
      alpha: Float, r: Int, paperPrune: Boolean): Unit = {
    val cur = graph(t)
    var i = 0
    while (i < cur.length && cur(i) != src) i += 1
    if (i == cur.length) {
      val cand = java.util.Arrays.copyOf(cur, cur.length + 1)
      cand(cur.length) = src
      if (cand.length <= r) graph(t) = cand
      else {
        val tVec = points(t)
        val dists = new Array[Float](cand.length)
        i = 0
        while (i < cand.length) { dists(i) = l2sq(tVec, points(cand(i))); i += 1 }
        graph(t) = robustPrune(points, t, cand, dists, alpha, r, paperPrune)
      }
    }
  }

  /** Batch size for [[buildParallel]] — FIXED so results are identical for
    * any thread count (searches in a batch see the graph as of batch start). */
  private val ParallelBuildBatch = 64

  /** Graph builds started in this JVM — serving-path specs assert that a
    * second search against a fitted model adds ZERO builds (meaningful in
    * local mode, where executors share the JVM). */
  val buildCount = new java.util.concurrent.atomic.AtomicLong(0)

  /** Run `f(0)`, ..., `f(count - 1)` on `parallelism` tasks of `pool` and
    * wait for all of them; tasks claim indices from a shared counter. */
  private def runAll(pool: java.util.concurrent.ExecutorService, parallelism: Int, count: Int)(
      f: Int => Unit): Unit = {
    val next = new java.util.concurrent.atomic.AtomicInteger(0)
    val task: java.util.concurrent.Callable[Unit] = () => {
      var i = next.getAndIncrement()
      while (i < count) { f(i); i = next.getAndIncrement() }
    }
    val futures = Array.fill(math.min(parallelism, count))(pool.submit(task))
    futures.foreach(_.get())
  }

  /** Parallel in-process build — the race-free twin of the reference's
    * OpenMP build (vamana.h:221-332, whose greedySearch reads the graph
    * concurrently with writes under `omp critical`; SURVEY.md A.4).
    * Batch-synchronous, in two parallel phases per batch of 64 nodes:
    *  1. each node's greedy search + prune runs on the pool against the
    *     graph as of batch start;
    *  2. after that barrier, the batch's updates — "set `graph(node)` to its
    *     pruned list", then "add back-edge `node → t`" for each kept t, in
    *     permutation order — are grouped by the ONE list each touches, and
    *     the per-target op lists run on the pool.
    * Every update reads and writes only its target's list (plus the
    * immutable points), so updates to different targets commute and each
    * target sees exactly the serial permutation-order sequence: the graph
    * is identical for ANY `parallelism` (asserted in specs) and to the
    * serial batch apply. Recall is equivalent to the sequential build
    * (same gates). */
  def buildParallel(ids: Array[Long], points: Array[Array[Float]], params: VamanaParams,
      parallelism: Int): LocalIndex = {
    if (parallelism <= 1) return build(ids, points, params)
    buildCount.incrementAndGet()
    val n = points.length
    require(n > 0, "cannot build an index over zero points")
    val rng = new Random(params.seed)
    val graph = initGraph(n, params.maxDegree, rng)
    val medoid = centroidMedoid(points)
    val r = params.maxDegree
    val pool = java.util.concurrent.Executors.newFixedThreadPool(parallelism)
    try {
      val pruned = new Array[Array[Int]](ParallelBuildBatch)
      // op q of a batch: key = (target node, q), opSlot(q) = the batch slot
      // it came from; it is the "set" op iff the target is the slot's node
      val opSlot = new Array[Int](ParallelBuildBatch * (r + 1))
      val opKeys = new Array[Long](ParallelBuildBatch * (r + 1))
      val runStart = new Array[Int](ParallelBuildBatch * (r + 1) + 1)
      def pass(alpha: Float): Unit = {
        val perm = rng.shuffle((0 until n).toVector)
        perm.grouped(ParallelBuildBatch).foreach { batch =>
          val nodes = batch.toArray
          // BARRIER (inside runAll): all searches finish against the
          // snapshot before any write lands (otherwise later searches would
          // read a mutating graph — the reference's race, reintroduced)
          runAll(pool, parallelism, nodes.length) { i =>
            val (poolIds, poolDists) = greedySearch(points, graph, medoid, points(nodes(i)), params.beamWidth)
            pruned(i) = robustPrune(points, nodes(i), poolIds, poolDists, alpha, r, params.paperPrune)
          }
          // the batch's serial op sequence, keyed (target, sequence number)
          var q = 0
          var i = 0
          while (i < nodes.length) {
            opSlot(q) = i; opKeys(q) = (nodes(i).toLong << 32) | q; q += 1
            val out = pruned(i)
            var j = 0
            while (j < out.length) {
              opSlot(q) = i; opKeys(q) = (out(j).toLong << 32) | q; q += 1
              j += 1
            }
            i += 1
          }
          java.util.Arrays.sort(opKeys, 0, q)
          var runs = 0
          i = 0
          while (i < q) {
            if (i == 0 || (opKeys(i) >>> 32) != (opKeys(i - 1) >>> 32)) { runStart(runs) = i; runs += 1 }
            i += 1
          }
          runStart(runs) = q
          runAll(pool, parallelism, runs) { run =>
            var k = runStart(run)
            while (k < runStart(run + 1)) {
              val t = (opKeys(k) >>> 32).toInt
              val slot = opSlot(opKeys(k).toInt)
              if (nodes(slot) == t) graph(t) = pruned(slot)
              else addBackEdge(points, graph, t, nodes(slot), alpha, r, params.paperPrune)
              k += 1
            }
          }
        }
      }
      pass(1.0f)
      pass(params.alpha)
    } finally pool.shutdown()
    new LocalIndex(ids, points, graph, medoid, params)
  }

  /** Full sequential build (G4, vamana.h:221-332): init graph → medoid →
    * seeded permutation → two passes of greedy+prune+back-edges. */
  def build(ids: Array[Long], points: Array[Array[Float]], params: VamanaParams): LocalIndex = {
    buildCount.incrementAndGet()
    val n = points.length
    require(n > 0, "cannot build an index over zero points")
    require(points.forall(_.length == params.dim), s"all points must have dim=${params.dim}")
    val rng = new Random(params.seed)
    val graph = initGraph(n, params.maxDegree, rng)
    val medoid = centroidMedoid(points)

    def pass(alpha: Float): Unit = {
      val perm = rng.shuffle((0 until n).toVector)
      for (node <- perm) {
        val (poolIds, poolDists) = greedySearch(points, graph, medoid, points(node), params.beamWidth)
        graph(node) = robustPrune(points, node, poolIds, poolDists, alpha, params.maxDegree, params.paperPrune)
        for (nb <- graph(node)) addBackEdge(points, graph, nb, node, alpha, params.maxDegree, params.paperPrune)
      }
    }
    pass(1.0f)
    pass(params.alpha)
    new LocalIndex(ids, points, graph, medoid, params)
  }

  /** FreshDiskANN-style incremental insert — ABSENT in the reference, which
    * can only rebuild from scratch (vamana.h has no add-point API): each new
    * point greedy-searches the current graph for its candidate pool
    * (vamana.h:559-629 semantics), robust-prunes it to an out-list at the
    * final alpha, then adds reverse edges, re-pruning any neighbor that
    * overflows R — exactly one build-pass step per new point, NO full
    * rebuild (buildCount unchanged; spec-gated).
    *
    * Returns a NEW index; the input index stays fully usable — top-level
    * arrays are copied and neighbor lists are replaced, never mutated.
    * The medoid is kept (it drifts only when inserts shift the centroid
    * materially — at that point refit, as FreshDiskANN's periodic
    * consolidation does). Ids must be new; vectors must be kernel-space
    * (callers route through the same metric transform as fit). */
  def insert(index: LocalIndex, newIds: Array[Long],
      newPoints: Array[Array[Float]]): LocalIndex = {
    require(newIds.length == newPoints.length, "ids/points length mismatch")
    val p = index.params
    require(newPoints.forall(_.length == p.dim), s"all points must have dim=${p.dim}")
    val n0 = index.size
    val n = n0 + newIds.length
    val points = java.util.Arrays.copyOf(index.points, n)
    val ids = java.util.Arrays.copyOf(index.ids, n)
    val graph = java.util.Arrays.copyOf(index.graph, n)
    val existing = mutable.HashSet.from(index.ids)
    var i = 0
    while (i < newIds.length) {
      val pos = n0 + i
      require(existing.add(newIds(i)), s"id ${newIds(i)} already indexed")
      points(pos) = newPoints(i)
      ids(pos) = newIds(i)
      graph(pos) = Array.empty
      // pool from the CURRENT graph — later inserts see earlier ones
      val (poolIds, poolDists) =
        greedySearch(points, graph, index.medoid, newPoints(i), math.max(p.beamWidth, p.efSearch))
      graph(pos) = robustPrune(points, pos, poolIds, poolDists, p.alpha, p.maxDegree, p.paperPrune)
      for (nb <- graph(pos)) addBackEdge(points, graph, nb, pos, p.alpha, p.maxDegree, p.paperPrune)
      i += 1
    }
    new LocalIndex(ids, points, graph, index.medoid, p)
  }

  /** DiskANN-style index MERGE — two independently BUILT indexes become
    * one serving index with NO rebuild (the DiskANN paper's distributed
    * build merges per-cluster shard graphs; FreshDiskANN's background
    * merge is the long-running-maintenance form — daily builds folding
    * into the serving index). Also absent in the reference, which can
    * only rebuild from scratch.
    *
    * Id sets must be disjoint (the shard invariant). The larger side's
    * arrays and medoid are kept verbatim; each node of the smaller side
    * joins by one insert-style step whose robust-prune candidate pool is
    * seeded with BOTH a greedy-search pool over the current merged graph
    * (the cross-side edges) AND the node's own intra-side neighbor list
    * (the build work the smaller index already paid — a plain re-insert
    * loop discards it and re-derives strictly less local structure).
    * Kept neighbors gain back-edges with prune-on-overflow exactly as in
    * [[insert]]; later smaller-side nodes see earlier ones through the
    * growing graph, and a node whose turn comes AFTER back-edges have
    * already accumulated on it seeds its candidate pool with those
    * back-edges too (they are paid-for bidirectional structure — a plain
    * overwrite would discard them). buildCount unchanged (spec-gated);
    * copy-on-write — BOTH inputs keep serving. Symmetric: merge(a, b) ==
    * merge(b, a) up to array order, enforced by the internal swap —
    * PROVIDED both sides were fitted with identical params (the larger
    * side's params and medoid win, so differing params break symmetry). */
  def merge(a: LocalIndex, b: LocalIndex): LocalIndex = {
    if (b.size > a.size) return merge(b, a)
    val p = a.params
    require(b.params.dim == p.dim,
      s"dimension mismatch: ${p.dim} vs ${b.params.dim}")
    require(b.params.metric == p.metric,
      s"metric mismatch: ${p.metric} vs ${b.params.metric}")
    val n0 = a.size
    val n = n0 + b.size
    val points = java.util.Arrays.copyOf(a.points, n)
    val ids = java.util.Arrays.copyOf(a.ids, n)
    val graph = java.util.Arrays.copyOf(a.graph, n)
    val existing = mutable.HashSet.from(a.ids)
    var i = 0
    while (i < b.size) {
      require(existing.add(b.ids(i)), s"id ${b.ids(i)} is indexed on both sides")
      points(n0 + i) = b.points(i)
      ids(n0 + i) = b.ids(i)
      graph(n0 + i) = Array.empty
      i += 1
    }
    i = 0
    while (i < b.size) {
      val pos = n0 + i
      val (poolIds, poolDists) =
        greedySearch(points, graph, a.medoid, b.points(i), math.max(p.beamWidth, p.efSearch))
      val inPool = new java.util.HashSet[Integer](poolIds.length * 2)
      poolIds.foreach(c => inPool.add(c))
      // union the intra-side neighbor list AND any back-edges earlier
      // smaller-side inserts already accumulated on this node (graph(pos));
      // overwriting would silently discard that bidirectional structure
      val carried = (b.graph(i).map(_ + n0) ++ graph(pos)).distinct
        .filter(c => c != pos && !inPool.contains(c))
      val candIds = poolIds ++ carried
      val candDists = poolDists ++ carried.map(c => l2sq(b.points(i), points(c)))
      graph(pos) = robustPrune(points, pos, candIds, candDists, p.alpha, p.maxDegree, p.paperPrune)
      for (nb <- graph(pos)) addBackEdge(points, graph, nb, pos, p.alpha, p.maxDegree, p.paperPrune)
      i += 1
    }
    new LocalIndex(ids, points, graph, a.medoid, p)
  }

  /** FreshDiskANN-style delete with eager consolidation — also absent in
    * the reference: every surviving in-neighbor of a deleted node is
    * repaired by re-pruning over (its own surviving neighbors) ∪ (the
    * deleted neighbors' surviving neighborhoods) — the FreshDiskANN delete
    * rule, which preserves graph navigability through the hole — then the
    * arrays compact (eager consolidation; batch deletes amortize it, which
    * is why the API takes a batch). The medoid is recomputed only if
    * deleted. Copy-on-write like [[insert]]: the source index keeps
    * serving. Unknown ids are ignored; deleting every point is an error. */
  def delete(index: LocalIndex, deleteIds: Array[Long]): LocalIndex = {
    val p = index.params
    val del = mutable.HashSet.from(deleteIds)
    val delPos = new mutable.HashSet[Int]
    var i = 0
    while (i < index.size) {
      if (del.contains(index.ids(i))) delPos += i
      i += 1
    }
    if (delPos.isEmpty) return index
    require(delPos.size < index.size, "cannot delete every point")
    // repair surviving nodes that point into the hole
    val repaired = new Array[Array[Int]](index.size)
    i = 0
    while (i < index.size) {
      if (!delPos.contains(i)) {
        val nbrs = index.graph(i)
        if (nbrs.exists(delPos.contains)) {
          val cand = new mutable.ArrayBuffer[Int](nbrs.length * 2)
          for (nb <- nbrs) {
            if (!delPos.contains(nb)) cand += nb
            else for (nn <- index.graph(nb) if !delPos.contains(nn) && nn != i) cand += nn
          }
          val candArr = cand.distinct.toArray
          repaired(i) = robustPrune(index.points, i, candArr,
            candArr.map(c => l2sq(index.points(i), index.points(c))),
            p.alpha, p.maxDegree, p.paperPrune)
        } else repaired(i) = nbrs
      }
      i += 1
    }
    // compact + remap to new positions
    val keep = (0 until index.size).filterNot(delPos.contains).toArray
    val newPos = new Array[Int](index.size)
    java.util.Arrays.fill(newPos, -1)
    keep.zipWithIndex.foreach { case (old, nw) => newPos(old) = nw }
    val ids = keep.map(index.ids)
    val points = keep.map(index.points)
    val graph = keep.map(old => repaired(old).collect {
      case nb if newPos(nb) >= 0 => newPos(nb)
    })
    val medoid =
      if (delPos.contains(index.medoid)) centroidMedoid(points)
      else newPos(index.medoid)
    new LocalIndex(ids, points, graph, medoid, p)
  }

  /** Top-k query (Q1, vamana.h:492-546): greedy search from the medoid with
    * beam width max(efSearch, k), then the k nearest of the visited pool.
    * Returns (externalId, squared distance) ascending by (dist, id). */
  def search(index: LocalIndex, query: Array[Float], k: Int): Array[(Long, Float)] =
    searchFrom(index, index.medoid, query, k)

  /** Filtered Q1 — the filtered-DiskANN serving shape: the greedy
    * traversal walks the graph UNFILTERED (restricting the walk itself
    * would disconnect it at low selectivity), and the predicate applies
    * when ranking the visited pool, so only allowed external ids can
    * enter the result. `beamOverride` re-parameterizes the beam without a
    * refit; with beam = n on a connected graph the pool is the whole
    * component, so the result is EXACTLY the k nearest allowed points —
    * the theorem the fanout filtered gate states. */
  def searchFiltered(index: LocalIndex, query: Array[Float], k: Int,
      allowed: Long => Boolean, beamOverride: Int = 0): Array[(Long, Float)] = {
    val kk = math.min(k, index.size)
    val beamL = math.max(
      if (beamOverride > 0) beamOverride else index.params.efSearch, kk)
    val (poolIds, poolDists) = greedySearch(index.points, index.graph, index.medoid, query, beamL)
    rankPool(index.ids, poolIds, poolDists, kk, i => allowed(index.ids(poolIds(i))))
  }

  /** Q2 (vamana.h:426-489): as [[search]] but starting from the stored point
    * nearest to `startVec` (linear scan resolve, vamana.h:441-449). */
  def searchWithStartPoint(index: LocalIndex, startVec: Array[Float], query: Array[Float], k: Int): Array[(Long, Float)] = {
    var best = 0
    var bestD = Float.MaxValue
    var i = 0
    while (i < index.size) {
      val d = l2sq(index.points(i), startVec)
      if (d < bestD) { bestD = d; best = i }
      i += 1
    }
    searchFrom(index, best, query, k)
  }

  /** Per-query search statistics — hops = nodes expanded, distComputations =
    * unique nodes scored. The reference's Go surface declares these but
    * returns 0.0 (go_api:163-171); ours are real. */
  final case class SearchStats(hops: Long, distComputations: Long)

  /** [[search]] plus its [[SearchStats]]. */
  def searchWithStats(index: LocalIndex, query: Array[Float], k: Int): (Array[(Long, Float)], SearchStats) = {
    val (res, hops, comps) = searchCounted(index, query, k)
    (res, SearchStats(hops, comps))
  }

  /** Range (radius) query — the DiskANN range-search contract the top-k
    * surface cannot express: EVERY stored point within squared-distance
    * `radiusSq` of the query, not a fixed k of them. Greedy beam search
    * from the medoid with an ESCALATING width: start at efSearch, re-run
    * with a doubled beam while a doubling still grows the in-range set
    * (the ball may extend past the current beam frontier), and stop as
    * soon as a doubling adds nothing — or the beam covers the whole index,
    * where the connected-graph argument behind the full-beam gates makes
    * the answer provably complete. Result ascending by (dist, id). */
  def rangeSearch(index: LocalIndex, query: Array[Float], radiusSq: Float): Array[(Long, Float)] = {
    var beam = math.max(index.params.efSearch, 32)
    var res: Array[(Long, Float)] = Array.empty
    var prevCount = -1
    var done = false
    while (!done) {
      val atCap = beam >= index.size
      val (poolIds, poolDists) = greedySearch(index.points, index.graph, index.medoid, query, beam)
      res = rankPool(index.ids, poolIds, poolDists, Int.MaxValue, i => poolDists(i) <= radiusSq)
      if (res.length == prevCount || atCap) done = true
      else { prevCount = res.length; beam = math.min(index.size, beam * 2) }
    }
    res
  }

  private def searchFrom(index: LocalIndex, start: Int, query: Array[Float], k: Int): Array[(Long, Float)] = {
    val kk = math.min(k, index.size)                    // clamp k<=n (vamana.h:498)
    val beamL = math.max(index.params.efSearch, kk)     // ef>=k clamp (vamana.h:502-503)
    val (poolIds, poolDists) = greedySearch(index.points, index.graph, start, query, beamL)
    rankPool(index.ids, poolIds, poolDists, kk, WholePool)
  }

  private val WholePool: Int => Boolean = _ => true

  /** The `k` nearest kept pool entries as (external id, dist), ascending by
    * (dist, external id), entries equal in both kept in pool order — the
    * order of a stable sort by that pair. `keep` selects pool positions.
    * One primitive sort of [[packKey]]s (dist, pool position) orders by
    * distance; only runs of equal distance that reach the top k are then
    * ordered by external id. */
  private def rankPool(ids: Array[Long], poolIds: Array[Int], poolDists: Array[Float], k: Int,
      keep: Int => Boolean): Array[(Long, Float)] = {
    val keys = new Array[Long](poolIds.length)
    var u = 0
    var i = 0
    while (i < poolIds.length) {
      if (keep(i)) { keys(u) = packKey(poolDists(i), i); u += 1 }
      i += 1
    }
    java.util.Arrays.sort(keys, 0, u)
    val m = math.min(k, u)
    def extId(key: Long): Long = ids(poolIds(keyId(key)))
    var a = 0
    while (a < m) {
      var b = a + 1
      while (b < u && (keys(b) >>> 32) == (keys(a) >>> 32)) b += 1
      // stable sort by external id; the run is already in pool order
      if (b - a > 1) System.arraycopy(keys.slice(a, b).sortBy(extId), 0, keys, a, b - a)
      a = b
    }
    val out = new Array[(Long, Float)](m)
    i = 0
    while (i < m) { val pos = keyId(keys(i)); out(i) = (ids(poolIds(pos)), poolDists(pos)); i += 1 }
    out
  }

  /** [[search]] + the M3 serving observables the reference STUBS at 0.0
    * (go_api:163-171 `GetSearchStats` returns `TODO: implement`): per
    * query, `hops` = nodes the beam EXPANDED (neighbor lists walked — the
    * latency driver on disk-resident graphs, one IO per hop in the
    * DiskANN layout) and `comps` = unique nodes SCORED (distance
    * computations — the CPU driver). Same traversal as [[search]]
    * ([[greedySearchCounted]] shares the kernel), so the returned top-k
    * is bit-identical to the untracked path. `beamOverride` follows
    * [[searchFiltered]]'s convention (0 = the fitted efSearch); at
    * beamL ≥ n the full-beam regime scores every node exactly once, so
    * comps = n — the theorem `vamana_stats` pins. */
  def searchCounted(index: LocalIndex, query: Array[Float], k: Int,
      beamOverride: Int = 0): (Array[(Long, Float)], Long, Long) = {
    val kk = math.min(k, index.size)
    val beamL = math.max(
      if (beamOverride > 0) beamOverride else index.params.efSearch, kk)
    val (poolIds, poolDists, comps) =
      greedySearchCounted(index.points, index.graph, index.medoid, query, beamL)
    (rankPool(index.ids, poolIds, poolDists, kk, WholePool), poolIds.length.toLong, comps)
  }

  /** Degree invariant over ALL nodes (fixes the reference's dead 10-node
    * healthCheck, vamana.h:705-720). */
  def healthCheck(index: LocalIndex): Boolean =
    index.graph.forall(_.length <= index.params.maxDegree)
}
