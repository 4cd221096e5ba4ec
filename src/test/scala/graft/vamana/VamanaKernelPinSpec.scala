package graft.vamana

import scala.collection.mutable
import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite

/** The kernel's outputs must not drift by a single edge or distance bit:
  * graphs and search results of [[KernelPins]] are pinned to the values the
  * boxed-bookkeeping kernel produced, and the primitive prune, ranking and
  * visited marks are checked against the tuple-sort code they replaced. */
class VamanaKernelPinSpec extends AnyFunSuite {

  private val pinned = Map(
    "build/uniform" -> "c0b5b78e3665e007",
    "build/grid" -> "120e76f5978eb343",
    "build/paper" -> "53810e6307d1901e",
    "build/grid-paper" -> "71ca23797f2af757",
    "buildParallel/uniform/p2" -> "7fc2ae165b4f44cf",
    "buildParallel/uniform/p4" -> "7fc2ae165b4f44cf",
    "buildParallel/uniform/p8" -> "7fc2ae165b4f44cf",
    "buildParallel/grid/p2" -> "cc3092ac855d9b69",
    "buildParallel/grid/p8" -> "cc3092ac855d9b69",
    "buildParallel/paper/p4" -> "724601a21d6c3cac",
    "build/cos" -> "fb1b0faf4e31bb4c",
    "build/ip" -> "39fd97ad28f9e246",
    "buildParallel/cos/p4" -> "fb1b0faf4e31bb4c",
    "insert/uniform" -> "7a36f283f1cc1d36",
    "insert/grid" -> "06c3fb05dcc7ac11",
    "merge/uniform" -> "803020572d6413da",
    "merge/grid" -> "b250f6f7c48d596a",
    "delete/uniform" -> "8fdffc8fd72cc76a",
    "delete/grid-medoid" -> "bb9070a2aa6984b3",
    "search/uniform" -> "46977612ee0d60fa",
    "search/grid" -> "a5b5f5d008e30713")

  private def checkPins(got: Seq[(String, String)]): Unit = {
    val drift = got.filter { case (name, fp) => !pinned.get(name).contains(fp) }
    assert(drift.isEmpty, drift.map { case (n, fp) => s"$n: got $fp, pinned ${pinned.get(n)}" }.mkString("; "))
  }

  test("pinned graphs: sequential build, reference and paper prune") { checkPins(KernelPins.builds) }
  test("pinned graphs: buildParallel at parallelism 2, 4 and 8") { checkPins(KernelPins.parallelBuilds) }
  test("pinned graphs: cos and ip metrics") { checkPins(KernelPins.metrics) }
  test("pinned graphs: insert, merge and delete outputs") { checkPins(KernelPins.updates) }
  test("pinned search results: top-k, counted, stats, filtered, range, start point, scored pools") {
    checkPins(KernelPins.searches)
  }

  /** The tuple-sort robustPrune the primitive one replaced, kept verbatim
    * as the oracle. */
  private def oraclePrune(points: Array[Array[Float]], p: Int, candIds: Array[Int], candDists: Array[Float],
      alpha: Float, r: Int, paperPrune: Boolean): Array[Int] = {
    val order = candIds.indices.toArray.sortBy(i => (candDists(i), candIds(i)))
    val seen = new mutable.HashSet[Int]
    val ids = new mutable.ArrayBuffer[Int](order.length)
    val dists = new mutable.ArrayBuffer[Float](order.length)
    for (i <- order) {
      val c = candIds(i)
      if (c != p && !seen.contains(c)) { seen += c; ids += c; dists += candDists(i) }
    }
    if (ids.isEmpty) return Array.empty
    val out = new mutable.ArrayBuffer[Int](r)
    if (!paperPrune) {
      val pStar = ids(0)
      out += pStar
      val pStarVec = points(pStar)
      var i = 1
      while (i < ids.length && out.length < r) {
        val c = ids(i)
        if (alpha * VamanaKernel.l2sq(pStarVec, points(c)) >= dists(i)) out += c
        i += 1
      }
    } else {
      val alive = Array.fill(ids.length)(true)
      var i = 0
      while (i < ids.length && out.length < r) {
        if (alive(i)) {
          val added = ids(i)
          out += added
          val addedVec = points(added)
          var j = i + 1
          while (j < ids.length) {
            if (alive(j) && alpha * VamanaKernel.l2sq(addedVec, points(ids(j))) <= dists(j)) alive(j) = false
            j += 1
          }
        }
        i += 1
      }
    }
    out.toArray
  }

  test("robustPrune equals the tuple-sort oracle: ties, duplicate ids, self, -0.0f, empty pool") {
    val rng = new Random(2024)
    val special = Array(0.0f, -0.0f, 1.0f, 1.0f, 2.5f, Float.PositiveInfinity, Float.MinPositiveValue, Float.NaN)
    for (trial <- 0 until 600) {
      val n = 5 + rng.nextInt(60)
      val pts = if (trial % 2 == 0) KernelPins.grid(n, 3, trial) else KernelPins.uniform(n, 3, trial)
      val p = rng.nextInt(n)
      val m = if (trial % 50 == 0) 0 else rng.nextInt(40)
      val cand = Array.fill(m)(if (rng.nextInt(6) == 0) p else rng.nextInt(n))
      val dists = cand.map { c =>
        rng.nextInt(5) match {
          case 0 => special(rng.nextInt(special.length))
          case 1 => rng.nextInt(3).toFloat // many equal distances
          case _ => VamanaKernel.l2sq(pts(p), pts(c))
        }
      }
      for (paper <- Seq(false, true); r <- Seq(1, 3, 8, 64); alpha <- Seq(1.0f, 1.2f)) {
        val got = VamanaKernel.robustPrune(pts, p, cand, dists, alpha, r, paper)
        val want = oraclePrune(pts, p, cand, dists, alpha, r, paper)
        assert(got.sameElements(want),
          s"trial $trial paper=$paper r=$r alpha=$alpha: ${got.toSeq} vs ${want.toSeq} for ${cand.toSeq} ${dists.toSeq}")
      }
    }
  }

  test("packKey orders exactly as java.lang.Float.compare, then id, and round-trips the distance") {
    val rng = new Random(77)
    val floats = Array(0.0f, -0.0f, Float.MinPositiveValue, -Float.MinPositiveValue, 1e-30f, 1.0f, -1.0f,
      Float.MaxValue, -Float.MaxValue, Float.PositiveInfinity, Float.NegativeInfinity, Float.NaN) ++
      Array.fill(200)(java.lang.Float.intBitsToFloat(rng.nextInt()))
    val entries = floats.flatMap(f => Seq((f, 0), (f, 7), (f, Int.MaxValue)))
    for ((d1, i1) <- entries; (d2, i2) <- entries) {
      val want = java.lang.Float.compare(d1, d2) match { case 0 => Integer.compare(i1, i2); case c => c }
      val got = java.lang.Long.compare(VamanaKernel.packKey(d1, i1), VamanaKernel.packKey(d2, i2))
      assert(Integer.signum(got) == Integer.signum(want), s"($d1,$i1) vs ($d2,$i2)")
    }
    for (f <- floats) assert(java.lang.Float.compare(VamanaKernel.keyDist(VamanaKernel.packKey(f, 3)), f) == 0)
  }

  test("search ranking equals the tuple sort of the pool: equal distances, duplicate external ids, long tie runs") {
    val rng = new Random(9)
    for (trial <- 0 until 40) {
      val n = 60 + rng.nextInt(200)
      // few distinct grid cells -> long runs of equal distance
      val pts = KernelPins.grid(n, 2, trial)
      val ids = Array.fill(n)(rng.nextInt(n / 2).toLong)
      val params = VamanaParams(dim = 2, maxDegree = 8, beamWidth = 16, efSearch = if (trial % 2 == 0) 24 else n)
      val base = VamanaKernel.build(Array.tabulate(n)(_.toLong), pts, params)
      val idx = new LocalIndex(ids, base.points, base.graph, base.medoid, params)
      for (_ <- 0 until 5) {
        val q = Array.fill(2)(rng.nextInt(4).toFloat)
        val k = 1 + rng.nextInt(n)
        val (poolIds, poolDists, _) = VamanaKernel.greedySearchCounted(idx.points, idx.graph, idx.medoid, q,
          math.max(params.efSearch, math.min(k, n)))
        val want = poolIds.indices.toArray.sortBy(i => (poolDists(i), ids(poolIds(i))))
          .take(math.min(k, n)).map(i => (ids(poolIds(i)), poolDists(i)))
        assert(VamanaKernel.search(idx, q, k).sameElements(want), s"trial $trial k=$k")
        val radius = rng.nextInt(6).toFloat
        val (rPool, rDists) = VamanaKernel.greedySearch(idx.points, idx.graph, idx.medoid, q, math.max(params.efSearch, 32))
        if (math.max(params.efSearch, 32) >= n) {
          val wantRange = rPool.indices.toArray.filter(i => rDists(i) <= radius)
            .sortBy(i => (rDists(i), ids(rPool(i)))).map(i => (ids(rPool(i)), rDists(i)))
          assert(VamanaKernel.rangeSearch(idx, q, radius).sameElements(wantRange), s"trial $trial range $radius")
        }
      }
    }
  }

  test("visited marks reset when the epoch wraps past Int.MaxValue") {
    val pts = KernelPins.uniform(300, 8, 5L)
    val idx = VamanaKernel.build(Array.tabulate(300)(_.toLong), pts, KernelPins.uniParams)
    val qs = KernelPins.uniform(6, 8, 6L)
    def run(q: Array[Float]) = {
      val (ids, dists, comps) = VamanaKernel.greedySearchCounted(idx.points, idx.graph, idx.medoid, q, 20)
      (ids.toSeq, dists.toSeq, comps)
    }
    val want = qs.map(run)
    // epoch 1 stamps marks with 1; a wrap that failed to clear them would
    // see those nodes as visited again at the post-wrap epoch 1
    VamanaKernel.setScratchEpoch(0)
    assert(run(qs(0)) == want(0))
    VamanaKernel.setScratchEpoch(Int.MaxValue - 2)
    val got = qs.map(run)
    assert(VamanaKernel.scratchEpoch < 10, s"epoch did not wrap: ${VamanaKernel.scratchEpoch}")
    assert(got.sameElements(want), "results changed across the epoch wrap")
    // prune dedup shares the marks: it must also survive a wrap
    VamanaKernel.setScratchEpoch(Int.MaxValue)
    val cand = Array(3, 5, 3, 9, 5, 11)
    val dists = cand.map(c => VamanaKernel.l2sq(pts(0), pts(c)))
    assert(VamanaKernel.robustPrune(pts, 0, cand, dists, 1.2f, 8, paperPrune = false)
      .sameElements(oraclePrune(pts, 0, cand, dists, 1.2f, 8, paperPrune = false)))
  }

  test("search against a grown array with a null tail (insert mid-batch) works in both beam regimes") {
    val pts = KernelPins.uniform(200, 8, 12L)
    val idx = VamanaKernel.build(Array.tabulate(200)(_.toLong), pts, KernelPins.uniParams)
    val grownPts = java.util.Arrays.copyOf(idx.points, 260)
    val grownGraph = java.util.Arrays.copyOf(idx.graph, 260)
    val q = KernelPins.uniform(1, 8, 13L)(0)
    val (ids, dists, comps) = VamanaKernel.greedySearchCounted(idx.points, idx.graph, idx.medoid, q, 24)
    val (gIds, gDists, gComps) = VamanaKernel.greedySearchCounted(grownPts, grownGraph, idx.medoid, q, 24)
    assert(gIds.sameElements(ids) && gDists.sameElements(dists) && gComps == comps)
    val (fIds, _, fComps) = VamanaKernel.greedySearchCounted(grownPts, grownGraph, idx.medoid, q, 260)
    assert(fIds.sameElements(0 until 200) && fComps == 200L, "full beam must skip the null tail")
  }
}
