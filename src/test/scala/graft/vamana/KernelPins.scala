package graft.vamana

import scala.util.Random

/** Seeded kernel fixtures whose outputs are pinned by [[VamanaKernelPinSpec]].
  *
  * Each entry is a name and a 64-bit digest of what the kernel produced:
  * the adjacency lists in node order plus the medoid for graphs, the result
  * lists with distance bits for searches. The pinned values were taken from
  * the kernel before its bookkeeping went primitive, so any drift in
  * traversal order, prune tie-breaks or back-edge application fails here.
  * The `grid` fixture has integer coordinates and duplicate points, so
  * equal distances (and therefore the id tie-break) occur on every step.
  * `all` lists every entry, for printing the pins of another commit.
  */
object KernelPins {

  def uniform(n: Int, dim: Int, seed: Long): Array[Array[Float]] = {
    val rng = new Random(seed)
    Array.fill(n)(Array.fill(dim)(rng.nextFloat() * 2 - 1))
  }

  def grid(n: Int, dim: Int, seed: Long): Array[Array[Float]] = {
    val rng = new Random(seed)
    Array.fill(n)(Array.fill(dim)(rng.nextInt(4).toFloat))
  }

  private final class Digest {
    private val md = java.security.MessageDigest.getInstance("SHA-256")
    private val buf = java.nio.ByteBuffer.allocate(8)
    def int(x: Int): Unit = { buf.clear(); buf.putInt(x); md.update(buf.array(), 0, 4) }
    def long(x: Long): Unit = { buf.clear(); buf.putLong(x); md.update(buf.array(), 0, 8) }
    def float(x: Float): Unit = int(java.lang.Float.floatToRawIntBits(x))
    def hits(res: Array[(Long, Float)]): Unit = { int(res.length); res.foreach { case (i, d) => long(i); float(d) } }
    def hex: String = md.digest().take(8).map(b => f"$b%02x").mkString
  }

  def graphFp(index: LocalIndex): String = {
    val d = new Digest
    d.int(index.size)
    index.graph.foreach { nbrs => d.int(nbrs.length); nbrs.foreach(d.int) }
    d.int(index.medoid)
    index.ids.foreach(d.long)
    d.hex
  }

  private def ids(n: Int, from: Int = 0): Array[Long] = Array.tabulate(n)(i => (from + i).toLong)

  val uniParams = VamanaParams(dim = 8, maxDegree = 16, beamWidth = 32, alpha = 1.2f, efSearch = 64, seed = 5L)
  val gridParams = VamanaParams(dim = 4, maxDegree = 12, beamWidth = 24, alpha = 1.2f, efSearch = 48, seed = 9L)
  lazy val uniPts: Array[Array[Float]] = uniform(400, 8, 17L)
  lazy val gridPts: Array[Array[Float]] = grid(300, 4, 23L)
  lazy val uniBase: LocalIndex = VamanaKernel.build(ids(300), uniPts.take(300), uniParams)
  lazy val gridBase: LocalIndex = VamanaKernel.build(ids(240), gridPts.take(240), gridParams)

  def builds: Seq[(String, String)] = Seq(
    "build/uniform" -> graphFp(VamanaKernel.build(ids(400), uniPts, uniParams)),
    "build/grid" -> graphFp(VamanaKernel.build(ids(300), gridPts, gridParams)),
    "build/paper" -> graphFp(VamanaKernel.build(ids(400), uniPts, uniParams.copy(paperPrune = true))),
    "build/grid-paper" -> graphFp(VamanaKernel.build(ids(300), gridPts, gridParams.copy(paperPrune = true))))

  def parallelBuilds: Seq[(String, String)] =
    Seq(2, 4, 8).map(p => s"buildParallel/uniform/p$p" -> graphFp(VamanaKernel.buildParallel(ids(400), uniPts, uniParams, p))) ++
      Seq(2, 8).map(p => s"buildParallel/grid/p$p" -> graphFp(VamanaKernel.buildParallel(ids(300), gridPts, gridParams, p))) ++
      Seq("buildParallel/paper/p4" ->
        graphFp(VamanaKernel.buildParallel(ids(400), uniPts, uniParams.copy(paperPrune = true), 4)))

  def metrics: Seq[(String, String)] = Seq("cos", "ip").map { m =>
    val (vecs, dim, _) = MetricReduction.prepareIndex(uniPts, m, 8)
    val p = uniParams.copy(dim = dim, metric = m)
    s"build/$m" -> graphFp(VamanaKernel.build(ids(400), vecs, p))
  } :+ {
    val (vecs, dim, _) = MetricReduction.prepareIndex(uniPts, "cos", 8)
    "buildParallel/cos/p4" -> graphFp(VamanaKernel.buildParallel(ids(400), vecs, uniParams.copy(dim = dim, metric = "cos"), 4))
  }

  def updates: Seq[(String, String)] = {
    val delRng = new Random(31)
    val uniDel = delRng.shuffle((0 until 300).toList).take(60).map(_.toLong).toArray
    val gridDel = (uniDel.filter(_ < 240) :+ gridBase.ids(gridBase.medoid)).distinct
    val small = VamanaKernel.build(ids(100, 300), uniPts.drop(300), uniParams)
    Seq(
      "insert/uniform" -> graphFp(VamanaKernel.insert(uniBase, ids(100, 300), uniPts.drop(300))),
      "insert/grid" -> graphFp(VamanaKernel.insert(gridBase, ids(60, 240), gridPts.drop(240))),
      "merge/uniform" -> graphFp(VamanaKernel.merge(uniBase, small)),
      "merge/grid" -> graphFp(VamanaKernel.merge(gridBase,
        VamanaKernel.build(ids(60, 240), gridPts.drop(240), gridParams))),
      "delete/uniform" -> graphFp(VamanaKernel.delete(uniBase, uniDel)),
      "delete/grid-medoid" -> graphFp(VamanaKernel.delete(gridBase, gridDel)))
  }

  def searches: Seq[(String, String)] = Seq(uniBase -> "uniform", gridBase -> "grid").map { case (idx, name) =>
    val qs = (if (name == "grid") grid(25, 4, 41L) else uniform(25, 8, 41L)) ++ idx.points.take(5)
    val full = new LocalIndex(idx.ids, idx.points, idx.graph, idx.medoid, idx.params.copy(efSearch = idx.size))
    val d = new Digest
    qs.foreach { q =>
      d.hits(VamanaKernel.search(idx, q, 10))
      val (res, hops, comps) = VamanaKernel.searchCounted(idx, q, 7, beamOverride = 20)
      d.hits(res); d.long(hops); d.long(comps)
      val (res2, st) = VamanaKernel.searchWithStats(idx, q, 10)
      d.hits(res2); d.long(st.hops); d.long(st.distComputations)
      d.hits(VamanaKernel.searchFiltered(idx, q, 10, _ % 3 != 0))
      d.hits(VamanaKernel.searchFiltered(idx, q, 5, _ % 2 == 0, beamOverride = idx.size))
      d.hits(VamanaKernel.rangeSearch(idx, q, if (name == "grid") 3f else 1.5f))
      d.hits(VamanaKernel.searchWithStartPoint(idx, idx.points(7), q, 10))
      d.hits(VamanaKernel.search(full, q, 12))
      val (pIds, pDists) = VamanaKernel.greedySearch(idx.points, idx.graph, idx.medoid, q, 16)
      pIds.foreach(d.int); pDists.foreach(d.float)
      // a non-metric score exercises the pluggable-score skeleton and its ties
      for (beam <- Seq(12, idx.size)) {
        val (sIds, sDists) = VamanaKernel.greedySearchScored(
          i => math.floor(VamanaKernel.l2sq(idx.points(i), q) * 2).toFloat + (i % 3), idx.graph, idx.medoid, beam)
        sIds.foreach(d.int); sDists.foreach(d.float)
      }
    }
    s"search/$name" -> d.hex
  }

  def all: Seq[(String, String)] = builds ++ parallelBuilds ++ metrics ++ updates ++ searches
}
