package perfbench

import java.nio.file.{Files, Paths}

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.{GraftCaches, SparkEntry}
import graft.core.Tables
import graft.vamana._

/** One benchmark run in its own JVM:
  * `perfbench.PerfBench <workload> <seed> <seconds> <trace 0|1> <outDir>`.
  *
  * Set-up runs [[SetupReps]] times (each a fresh session and fresh inputs
  * from the seed); then closed-loop rounds from this single client run until
  * `seconds` have passed (at least [[MinRounds]]). With tracing on, traced
  * and untraced rounds alternate, then the per-layer probes run. The run
  * writes `<outDir>/result.json` (raw samples, checks, context) and, traced,
  * `<outDir>/spans.json`; `run.py` reduces them to the reported metrics.
  */
object PerfBench {
  val SetupReps = 3
  val MinRounds = 2
  val MaxRounds = 50

  def main(args: Array[String]): Unit = {
    val Array(name, seedArg, secondsArg, traceArg, outDir) = args
    val c = new Ctx(seedArg.toLong, secondsArg.toDouble, traceArg == "1", outDir)
    c.rec.addInfo("loadavg_start", Jvm.loadAvg)
    c.rec.addInfo("host_cores", Runtime.getRuntime.availableProcessors())
    c.rec.addInfo("spark_cores", c.cores)
    val w: Workload = name match {
      case "ann_local" => new AnnLocal(c)
      case "ann_fanout_rw" => new AnnFanoutRw(c)
      case "corpus_pipeline" => new CorpusPipeline(c)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    try {
      runPhase(c, w)
      if (c.trace) {
        Trace.on = true
        w.layers()
      }
      w.report()
    } catch {
      case scala.util.control.NonFatal(e) =>
        c.rec.attempted += 1
        c.rec.failed += 1
        System.err.println(s"[perfbench] run aborted: $e")
        e.printStackTrace()
    } finally {
      Trace.on = false
      SparkSession.getActiveSession.foreach(_.stop())
    }
    c.rec.addInfo("loadavg_end", Jvm.loadAvg)
    Files.writeString(Paths.get(outDir, "result.json"), c.rec.json)
    if (c.trace) Files.writeString(Paths.get(outDir, "spans.json"), spansJson(Trace.spans))
  }

  /** Set-ups (timed, median reported), the untimed warm-up, then rounds
    * until `seconds` have passed. A traced run alternates untraced and
    * traced set-ups and rounds, so both halves see the same JIT and host
    * state and their difference is the tracing overhead. */
  private def runPhase(c: Ctx, w: Workload): Unit = {
    val modes = if (c.trace) Seq(false, true) else Seq(false)
    for (i <- 0 until SetupReps * modes.size) {
      Trace.on = modes(i % modes.size)
      Trace.newTrace()
      val t0 = System.nanoTime()
      Trace.span("setup")(w.setup())
      c.e2e("setup_s", "s", (System.nanoTime() - t0) / 1e9)
    }
    Trace.newTrace()
    Trace.span("warmup")(w.warmup())
    val budgetNs = (c.seconds * 1e9).toLong
    val start = System.nanoTime()
    var rounds = 0
    var lastNs = 0L
    Jvm.resetHeapPeak()
    val gc0 = Jvm.gcMs
    // a further round starts only if it is expected to end within the budget
    while (rounds < MinRounds * modes.size ||
        (rounds < MaxRounds && System.nanoTime() - start + lastNs <= budgetNs)) {
      Trace.on = modes(rounds % modes.size)
      Trace.newTrace()
      val cpu0 = Jvm.cpuNs
      val t0 = System.nanoTime()
      if (Trace.span("round")(w.round())) c.e2e("cpu_s", "s", (Jvm.cpuNs - cpu0) / 1e9)
      lastNs = System.nanoTime() - t0
      rounds += 1
    }
    Trace.on = false
    c.e2e("rounds", "count", rounds)
    c.e2e("jvm.gc_s", "s", (Jvm.gcMs - gc0) / 1e3)
    c.e2e("jvm.heap_peak_mb", "MB", Jvm.heapPeakMb)
  }

  private def spansJson(spans: Seq[Trace.Span]): String = {
    val self = Trace.selfNs(spans)
    val byName = spans.groupBy(_.name).toSeq.sortBy(_._1).map { case (n, ss) =>
      s"${Json.str(n)}:{\"count\":${ss.size},\"total_s\":${Json.num(ss.map(_.durNs).sum / 1e9)}," +
        s"\"self_s\":${Json.num(ss.map(s => self(s.id)).sum / 1e9)}}"
    }.mkString("{", ",", "}")
    val byLayer = spans.groupBy(_.name.takeWhile(_ != '.')).toSeq.sortBy(_._1).map { case (l, ss) =>
      s"${Json.str(l)}:${Json.num(ss.map(s => self(s.id)).sum / 1e9)}"
    }.mkString("{", ",", "}")
    val all = spans.sortBy(_.id).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"trace":${s.trace},"name":${Json.str(s.name)},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }.mkString("[", ",\n", "]")
    s"""{"self_s_by_layer":$byLayer,"by_name":$byName,"spans":$all}"""
  }
}

/** Per-run context shared by the workloads. */
final class Ctx(val seed: Long, val seconds: Double, val trace: Boolean, val outDir: String) {
  val rec = new Recorder
  val metrics = new GroupMetrics
  /** `local[4]` at most, never more than the host has. */
  val cores: Int = math.min(4, Runtime.getRuntime.availableProcessors())

  /** End-to-end sample; traced-phase samples are kept apart under
    * `traced.` so the tracing overhead can be reported. */
  def e2e(name: String, unit: String, v: Double): Unit =
    if (recording) rec.add(if (Trace.on) s"traced.$name" else name, unit, v)

  private var recording = true

  /** True in the recorded rounds of a traced run. */
  def tracing: Boolean = Trace.on && recording

  /** Run `f` (a warm-up round) without recording its samples; its checks
    * and failures still count. */
  def unrecorded[T](f: => T): T = {
    recording = false
    try f finally recording = true
  }

  /** Per-layer value, recorded only in a traced run. */
  def layer(name: String, unit: String, v: Double): Unit = rec.add(name, unit, v)

  /** A fresh local session (any previous one is stopped), confined to the
    * run directory. */
  def newSession(): SparkSession = {
    SparkSession.getActiveSession.foreach(_.stop())
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$outDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$outDir/warehouse")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    if (trace) s.sparkContext.addSparkListener(metrics)
    s
  }

  /** Run `f` with its Spark jobs charged to `group`; only the recorded
    * traced rounds are charged to the name itself. */
  def inGroup[T](spark: SparkSession, group: String)(f: => T): T = {
    val g = if (tracing) group else s"$group.untraced"
    spark.sparkContext.setJobGroup(g, g)
    try f finally spark.sparkContext.clearJobGroup()
  }

  def dirBytes(dir: String): Long = {
    val s = Files.walk(Paths.get(dir))
    try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
    finally s.close()
  }
}

trait Workload {
  /** One complete set-up: session and inputs from the seed. */
  def setup(): Unit
  /** Untimed preparation after set-up (checker inputs, first pass). */
  def warmup(): Unit
  /** One measured round; false when an operation in it failed. */
  def round(): Boolean
  /** Per-layer probes, traced runs only. */
  def layers(): Unit
  /** Exact, load-independent facts about the outputs (both modes). */
  def report(): Unit = ()
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Exact top-k ids per query by (squared L2, id) — the checker's truth. */
  def bruteForce(points: Array[Array[Float]], ids: Array[Long], queries: Array[Array[Float]],
      k: Int): Array[Array[Long]] =
    queries.map { q =>
      points.indices.map(i => (VamanaKernel.l2sq(points(i), q), ids(i))).sorted.take(k).map(_._2).toArray
    }

  def recall(got: Array[Array[Long]], truth: Array[Array[Long]]): Double =
    got.zip(truth).map { case (g, t) => g.toSet.intersect(t.toSet).size.toDouble / t.length }.sum / truth.length

  /** Search output rows (query_id, rank, id, dist) as ids per query in rank order. */
  def idsByQuery(rows: Array[Row], nQueries: Int): Array[Array[Long]] = {
    val byQ = rows.groupBy(_.getLong(0))
    Array.tabulate(nQueries)(q => byQ.getOrElse(q.toLong, Array.empty[Row]).sortBy(_.getLong(1)).map(_.getLong(2)))
  }

  /** 48-bit fingerprint of a graph (adjacency in node order, then medoid). */
  def graphFingerprint(index: LocalIndex): Long = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val buf = java.nio.ByteBuffer.allocate(8)
    def putInt(x: Int): Unit = { buf.clear(); buf.putInt(x); md.update(buf.array(), 0, 4) }
    index.graph.foreach { nbrs => putInt(nbrs.length); nbrs.foreach(putInt) }
    putInt(index.medoid)
    val h = md.digest()
    (0 until 6).foldLeft(0L)((acc, i) => (acc << 8) | (h(i) & 0xffL))
  }

  def sameIndex(a: LocalIndex, b: LocalIndex): Boolean =
    a.medoid == b.medoid && a.ids.sameElements(b.ids) &&
      a.graph.length == b.graph.length && a.graph.indices.forall(i => a.graph(i).sameElements(b.graph(i)))

  /** Order-insensitive content hash of collected rows. */
  def rowsHash(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.map(_.toString).sorted.foreach(s => md.update(s.getBytes("UTF-8")))
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  def uniform(rng: Random, n: Int, dim: Int): Array[Array[Float]] =
    Array.fill(n)(Array.fill(dim)(rng.nextFloat() * 2 - 1))
}

/** Kernel-bound: a single-shard fit (the parallel kernel build runs on the
  * driver), a save/load roundtrip, one batch search and a single-client
  * loop of one-at-a-time kernel searches. */
final class AnnLocal(c: Ctx) extends Workload {
  val N = 3000
  val Q = 1000
  val Dim = 128
  val K = 10
  val params = VamanaParams(dim = Dim, maxDegree = 32, beamWidth = 64, alpha = 1.2f, efSearch = 128)
  private val rec = c.rec
  private var spark: SparkSession = _
  private var points: Array[Array[Float]] = _
  private var ids: Array[Long] = _
  private var queries: Array[Array[Float]] = _
  private var df: DataFrame = _
  private var qdf: DataFrame = _
  private var truth: Array[Array[Long]] = _
  private var fitted: LocalIndex = _
  private var fingerprint: Option[Long] = None
  private val fitS = scala.collection.mutable.ArrayBuffer.empty[Double]
  private def idxDir = s"${c.outDir}/ann_local_index"

  def setup(): Unit = {
    spark = c.newSession()
    val rng = new Random(c.seed)
    points = Stats.uniform(rng, N, Dim)
    ids = Array.tabulate(N)(_.toLong)
    queries = Stats.uniform(rng, Q, Dim)
    val s = spark
    import s.implicits._
    df = ids.zip(points).toSeq.toDF("vec_id", "embedding")
    qdf = queries.indices.map(i => (i.toLong, queries(i))).toDF("query_id", "query_vec")
    df.count()
    qdf.count()
  }

  /** Checker truth, then one unrecorded round: the first round of a JVM
    * compiles the fit, persist and search paths and would weigh on a
    * median of the few rounds a run holds. */
  def warmup(): Unit = {
    if (truth == null) truth = Stats.bruteForce(points, ids, queries, K)
    c.unrecorded(round())
  }

  /** The single queries run in four chunks between the round's other
    * steps, so their latencies sample the whole round rather than one
    * instant of it (host speed drifts over seconds). */
  def round(): Boolean = {
    val chunk = Q / 4
    val res = for {
      (model, fit) <- rec.timed("indexer.fit")(c.inGroup(spark, "indexer.fit")(VamanaIndexer.fit(df, params)))
      q1 <- singleQueries(model.index, 0, chunk)
      (_, save) <- rec.timed("io.save")(model.save(spark, idxDir))
      q2 <- singleQueries(model.index, chunk, 2 * chunk)
      (loaded, load) <- rec.timed("io.load")(VamanaModel.load(spark, idxDir))
      q3 <- singleQueries(loaded.index, 2 * chunk, 3 * chunk)
      (batch, batchS) <- rec.timed("indexer.search")(loaded.search(qdf, K).collect())
      q4 <- singleQueries(loaded.index, 3 * chunk, Q)
    } yield {
      val loop = q1 ++ q2 ++ q3 ++ q4
      val loopS = loop.map(_._2).sum
      c.e2e("build_s", "s", fit)
      c.e2e("serve_s", "s", save + load + batchS + loopS)
      loop.foreach(r => c.e2e("op_ms", "ms", r._2 * 1e3))
      c.e2e("persist_s", "s", save + load)
      c.e2e("io.save_s", "s", save)
      c.e2e("io.load_s", "s", load)
      c.e2e("search_qps", "1/s", Q / batchS)
      if (c.tracing) fitS += fit
      val got = loop.map(_._1)
      val idx = model.index
      val fp = Stats.graphFingerprint(idx)
      rec.check("ann_local.fit_deterministic", fingerprint.forall(_ == fp), s"fingerprint $fp vs $fingerprint")
      fingerprint = Some(fp)
      fitted = idx
      rec.check("ann_local.load_equals_fit", Stats.sameIndex(idx, loaded.index), "loaded graph differs")
      rec.check("ann_local.batch_equals_single",
        Stats.idsByQuery(batch, Q).zip(got).forall { case (a, b) => a.sameElements(b) },
        "batch search and single-query search disagree")
      val r = Stats.recall(got, truth)
      c.e2e("recall_at_10", "ratio", r)
      rec.check("ann_local.recall_at_10>=0.8", r >= 0.8, s"recall $r")
      c.e2e("stored_bytes_ratio", "ratio", c.dirBytes(idxDir).toDouble / (N.toLong * Dim * 4))
    }
    res.isDefined
  }

  /** Queries `from until to`, one at a time, each timed on its own:
    * (ids, seconds), or None when a call failed. */
  private def singleQueries(index: LocalIndex, from: Int, to: Int): Option[Array[(Array[Long], Double)]] = {
    val out = new Array[(Array[Long], Double)](to - from)
    var i = from
    var ok = true
    while (i < to && ok) {
      rec.timed("kernel.search")(VamanaKernel.search(index, queries(i), K)) match {
        case Some((r, s)) => out(i - from) = (r.map(_._1), s)
        case None => ok = false
      }
      i += 1
    }
    if (ok) Some(out) else None
  }

  def layers(): Unit = {
    val idx = fitted
    val p = idx.params
    def time[T](span: String)(f: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = Trace.span(span)(f)
      (r, (System.nanoTime() - t0) / 1e9)
    }
    val (rebuilt, buildS) = time("kernel.buildParallel")(VamanaKernel.buildParallel(idx.ids, idx.points, p, c.cores))
    rec.check("ann_local.kernel_build_equals_fit", Stats.sameIndex(idx, rebuilt), "direct kernel build differs from fit")
    c.layer("kernel.build_s", "s", buildS)
    c.layer("indexer.fit_overhead_s", "s", Stats.median(fitS.toSeq) - buildS)
    for (_ <- 0 until 5) {
      c.layer("kernel.medoid_ms", "ms", time("kernel.centroidMedoid")(VamanaKernel.centroidMedoid(idx.points))._2 * 1e3)
      c.layer("kernel.init_graph_ms", "ms",
        time("kernel.initGraph")(VamanaKernel.initGraph(N, p.maxDegree, new Random(p.seed)))._2 * 1e3)
    }
    val sample = new Random(c.seed + 1).shuffle((0 until N).toVector).take(1000)
    var searchNs = 0L
    var pruneNs = 0L
    sample.foreach { node =>
      val t0 = System.nanoTime()
      val (pool, dists) = Trace.span("kernel.greedySearch")(
        VamanaKernel.greedySearch(idx.points, idx.graph, idx.medoid, idx.points(node), p.beamWidth))
      val t1 = System.nanoTime()
      Trace.span("kernel.robustPrune")(
        VamanaKernel.robustPrune(idx.points, node, pool, dists, p.alpha, p.maxDegree, p.paperPrune))
      searchNs += t1 - t0
      pruneNs += System.nanoTime() - t1
    }
    c.layer("kernel.greedy_search_us", "us", searchNs / 1e3 / sample.size)
    c.layer("kernel.robust_prune_us", "us", pruneNs / 1e3 / sample.size)
    val (comps, countedS) = time("kernel.searchCounted")(queries.map(q => VamanaKernel.searchCounted(idx, q, K)._3).sum)
    c.layer("kernel.ns_per_comp", "ns", countedS * 1e9 / comps)
    c.layer("kernel.avg_degree", "count", idx.graph.map(_.length).sum.toDouble / N)
    c.layer("kernel.full_degree_frac", "ratio", idx.graph.count(_.length == p.maxDegree).toDouble / N)
    val bin = s"${c.outDir}/ann_local_index.bin"
    val (_, exportS) = time("io.export")(VamanaBinaryIO.exportIndex(idx, bin))
    val (imported, importS) = time("io.import")(VamanaBinaryIO.importIndex(bin, p.efSearch, p.seed))
    rec.check("ann_local.binary_roundtrip", Stats.sameIndex(idx, imported), "binary export/import changed the graph")
    c.layer("io.export_s", "s", exportS)
    c.layer("io.import_s", "s", importS)
    c.layer("io.bytes", "bytes", c.dirBytes(idxDir).toDouble)
  }

  /** Exact counts: graph fingerprint and search hops/comparisons over the
    * query set. They repeat exactly for a seed, so a change that should
    * keep the graph bit-identical can be checked from these alone. */
  override def report(): Unit = if (fitted != null) {
    val counted = queries.map(q => VamanaKernel.searchCounted(fitted, q, K))
    rec.check("ann_local.counted_equals_search",
      counted.zip(queries).forall { case ((r, _, _), q) => r.sameElements(VamanaKernel.search(fitted, q, K)) },
      "searchCounted and search disagree")
    rec.addInfo("graph_fingerprint", f"${Stats.graphFingerprint(fitted)}%012x")
    rec.addInfo("medoid", fitted.medoid)
    rec.addInfo("search_hops", counted.map(_._2).sum)
    rec.addInfo("search_comps", counted.map(_._3).sum)
    c.layer("kernel.graph_fp", "hash", Stats.graphFingerprint(fitted).toDouble)
    c.layer("kernel.search_hops", "count", counted.map(_._2).sum.toDouble)
    c.layer("kernel.search_comps", "count", counted.map(_._3).sum.toDouble)
  }
}

/** Spark-bound: the sharded fit beyond the broadcast threshold (2-of-4
  * overlapped shard builds as tasks, kryo-cached shards, fan-out serving)
  * and a read/write mix on clustered data. */
final class AnnFanoutRw(c: Ctx) extends Workload {
  val N = 2400
  val Dim = 64
  val Clusters = 100
  val Q = 300
  val Ins = 300
  val Del = 300
  val K = 10
  val Shards = 4
  val params = VamanaParams(dim = Dim, maxDegree = 32, beamWidth = 64, alpha = 1.2f, efSearch = 128)
  private val rec = c.rec
  private var spark: SparkSession = _
  private var base: Array[Array[Float]] = _
  private var ins: Array[Array[Float]] = _
  private var queries: Array[Array[Float]] = _
  private var delIds: Array[Long] = _
  private var baseDf, insDf, qdf, insQdf: DataFrame = _
  private var truth: Array[Array[Long]] = _
  private val phaseS = scala.collection.mutable.LinkedHashMap.empty[String, Int]

  def setup(): Unit = {
    spark = c.newSession()
    val rng = new Random(c.seed)
    val centers = Array.fill(Clusters)(Array.fill(Dim)(rng.nextGaussian().toFloat))
    def draw(n: Int) = Array.fill(n) {
      val ctr = centers(rng.nextInt(Clusters))
      Array.tabulate(Dim)(j => ctr(j) + rng.nextGaussian().toFloat)
    }
    base = draw(N)
    ins = draw(Ins)
    queries = draw(Q)
    delIds = rng.shuffle((0 until N).map(_.toLong)).take(Del).toArray.sorted
    val s = spark
    import s.implicits._
    baseDf = base.indices.map(i => (i.toLong, base(i))).toDF("vec_id", "embedding")
    insDf = ins.indices.map(i => ((N + i).toLong, ins(i))).toDF("vec_id", "embedding")
    qdf = queries.indices.map(i => (i.toLong, queries(i))).toDF("query_id", "query_vec")
    insQdf = ins.indices.map(i => (i.toLong, ins(i))).toDF("query_id", "query_vec")
    Seq(baseDf, insDf, qdf, insQdf).foreach(_.count())
  }

  /** Checker truth over the live set after the writes, then one
    * unrecorded round (JIT), as in [[AnnLocal.warmup]]. */
  def warmup(): Unit = {
    if (truth == null) {
      val del = delIds.toSet
      val live = (base.indices.map(i => (i.toLong, base(i))) ++ ins.indices.map(i => ((N + i).toLong, ins(i))))
        .filterNot(p => del.contains(p._1))
      truth = Stats.bruteForce(live.map(_._2).toArray, live.map(_._1).toArray, queries, K)
    }
    c.unrecorded(round())
  }

  private def phase[T](name: String)(f: => T): Option[(T, Double)] = {
    if (c.tracing) phaseS(name) = phaseS.getOrElse(name, 0) + 1
    rec.timed(s"indexer.$name")(c.inGroup(spark, s"indexer.$name")(f))
  }

  def round(): Boolean = {
    var models = List.empty[VamanaModel]
    val res = for {
      // the sharded fit is lazy: shard kernels build on first use, so the
      // fit is timed to its first answered batch
      ((m, _), build) <- phase("fit") {
        val m = VamanaIndexer.fit(baseDf, params, numShards = Shards, maxLocalPoints = N / 2)
        models ::= m
        (m, m.search(qdf, K).collect())
      }
      (m2, insert) <- phase("insert")(m.insert(insDf))
      _ = models ::= m2
      (_, s2) <- phase("search")(m2.search(qdf, K).collect())
      (m3, delete) <- phase("delete")(m2.delete(delIds))
      _ = models ::= m3
      (rows, s3) <- phase("search")(m3.search(qdf, K).collect())
    } yield {
      c.e2e("build_s", "s", build)
      c.e2e("serve_s", "s", insert + s2 + delete + s3)
      Seq(s2, s3).foreach(s => c.e2e("op_ms", "ms", s * 1e3))
      c.e2e("search_qps", "1/s", 2 * Q / (s2 + s3))
      c.e2e("insert_pts_per_s", "1/s", Ins / insert)
      c.e2e("delete_s", "s", delete)
      if (c.tracing) shardSkew(m3).foreach(c.layer("indexer.shard_skew", "ratio", _))
      val got = Stats.idsByQuery(rows, Q)
      val del = delIds.toSet
      rec.check("ann_fanout_rw.no_deleted_id", got.forall(_.forall(id => !del.contains(id))),
        "a deleted id was returned")
      val r = Stats.recall(got, truth)
      c.e2e("recall_at_10", "ratio", r)
      rec.check("ann_fanout_rw.recall_at_10>=0.8", r >= 0.8, s"recall $r")
      val self = Stats.idsByQuery(m2.search(insQdf, K).collect(), Ins)
      val missing = self.indices.count(i => !self(i).contains((N + i).toLong))
      rec.check("ann_fanout_rw.inserted_self_query", missing == 0, s"$missing inserted points not found by self-query")
    }
    models.foreach(_.unpersist())
    res.isDefined
  }

  /** max ÷ mean of the live shard sizes. The fanout half of the model is
    * not public, so it is read reflectively; traced runs only. */
  private def shardSkew(m: VamanaModel): Option[Double] =
    try {
      val f = classOf[VamanaModel].getDeclaredFields.find(_.getName.endsWith("fanoutOpt")).get
      f.setAccessible(true)
      f.get(m).asInstanceOf[Option[FanoutModel]].map { fm =>
        val sizes = fm.shardSizes
        sizes.max / (sizes.sum.toDouble / sizes.length)
      }
    } catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[perfbench] shard sizes unreadable: $e")
        None
    }

  def layers(): Unit = phaseS.foreach { case (name, calls) =>
    val a = c.metrics.get(spark.sparkContext, s"indexer.$name")
    c.layer(s"indexer.$name.task_s", "s", a.cpuNs / 1e9 / calls)
    c.layer(s"indexer.$name.shuffle_bytes", "bytes", a.shuffleBytes.toDouble / calls)
    c.layer(s"indexer.$name.spill_bytes", "bytes", a.spillBytes.toDouble / calls)
    c.layer(s"indexer.$name.stages", "count", a.stages.toDouble / calls)
  }
}

/** Operator-bound: registered non-vamana queries over a seeded corpus,
  * first untimed, then per round a memo-cold pass after
  * `GraftCaches.clearMemos()` and a warm pass. The Vamana kernel does no
  * work here. */
final class CorpusPipeline(c: Ctx) extends Workload {
  /** One query per family: lexical, text statistics, dedup and
    * relational; bm25_retrieval and winnow_overlap keep memos. */
  val Queries = Seq("bm25_retrieval", "token_entropy", "winnow_overlap", "q23_salted_revenue")
  val WarmPasses = 1
  val Docs = 1000
  val Orders = 5000
  private val rec = c.rec
  private var spark: SparkSession = _
  private val expected = scala.collection.mutable.Map.empty[String, (Long, String)]
  private var tracedWarmPasses = 0
  private def dataDir = s"${c.outDir}/corpus"

  private val vocab = ("scan column window order sort part agg value line key join merge group query a " +
    "vector hash slow stream filter fast the batch spark table small data big customer row").split(" ")
  private val langs = Array("en", "en", "fr", "es", "zh", "de")
  private val priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val orderStatus = Array("F", "O", "P")
  private val returnFlags = Array("A", "N", "R")
  private val lineStatus = Array("F", "O")

  def setup(): Unit = {
    GraftCaches.clearAll()
    spark = c.newSession()
    val s = spark
    import s.implicits._
    val rng = new Random(c.seed)
    val texts = new Array[String](Docs)
    for (i <- 0 until Docs) {
      texts(i) =
        if (i > 10 && rng.nextDouble() < 0.05) texts(rng.nextInt(i)) + " dup"
        else Array.fill(10 + rng.nextInt(91))(vocab(rng.nextInt(vocab.length))).mkString(" ")
    }
    val docs = texts.indices.map(i =>
      (i.toLong, texts(i), langs(rng.nextInt(langs.length)), s"src${i % 20}", texts(i).length.toLong))
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dataDir/documents.parquet")
    val day0 = java.time.LocalDate.of(1992, 1, 1)
    def ts(d: Int) = java.sql.Timestamp.valueOf(day0.plusDays(d.toLong).atStartOfDay())
    val orders = (1 to Orders).map { o =>
      (o.toLong, (1 + rng.nextInt(Orders / 10)).toLong, orderStatus(rng.nextInt(3)),
        math.rint(rng.nextDouble() * 4e7) / 100, ts(rng.nextInt(2400)), priorities(rng.nextInt(5)))
    }
    orders.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$dataDir/orders.parquet")
    orders.flatMap { o =>
      (1 to 1 + rng.nextInt(7)).map { ln =>
        val qty = 1 + rng.nextInt(50)
        (o._1, (1 + rng.nextInt(2000)).toLong, (1 + rng.nextInt(100)).toLong, ln, qty.toDouble,
          math.rint(qty * (900 + rng.nextInt(100000) / 100.0) * 100) / 100, rng.nextInt(11) / 100.0,
          rng.nextInt(9) / 100.0, returnFlags(rng.nextInt(3)), lineStatus(rng.nextInt(2)),
          ts(rng.nextInt(2500)))
      }
    }.toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity", "l_extendedprice",
      "l_discount", "l_tax", "l_returnflag", "l_linestatus", "l_shipdate")
      .write.mode("overwrite").parquet(s"$dataDir/lineitem.parquet")
    Tables.cacheTables = true
    Tables.table(spark, dataDir, "documents").count()
  }

  private val fns = SparkEntry.queries

  private def run(q: String): Array[Row] = fns(q)(spark, dataDir).collect()

  /** The untimed first pass: JIT, codegen and memo fill. Its outputs are the
    * reference every timed pass must reproduce, and are written out for the
    * DuckDB oracle check `run.py` makes after the run. */
  def warmup(): Unit = {
    val oracle = SparkEntry.oracleSql
    Queries.foreach { q =>
      rec.timed(s"operators.$q")(run(q)).foreach { case (rows, _) =>
        val h = (rows.length.toLong, Stats.rowsHash(rows))
        rec.check(s"corpus_pipeline.$q.stable_across_setups", expected.get(q).forall(_ == h), s"$h vs ${expected(q)}")
        expected(q) = h
        if (rows.nonEmpty) {
          val schema = fns(q)(spark, dataDir).schema
          spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
            .coalesce(1).write.mode("overwrite").parquet(s"${c.outDir}/results/$q")
        }
        rec.check(s"corpus_pipeline.$q.nonempty", rows.nonEmpty, "query returned no rows")
      }
    }
    rec.addInfo("oracle_sql", Queries.map(q => q -> oracle.getOrElse(q, "")).toMap)
    rec.addInfo("result_rows", expected.map { case (q, (n, _)) => q -> n }.toMap)
  }

  /** Every query once: seconds per query, or None when one failed. */
  private def pass(kind: String): Option[Map[String, Double]] = {
    val secs = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val ok = Queries.forall { q =>
      c.inGroup(spark, s"operators.$q.$kind")(rec.timed(s"operators.$q")(run(q))) match {
        case Some((rows, s)) =>
          secs(q) = s
          if (kind == "warm") c.e2e("op_ms", "ms", s * 1e3)
          val h = (rows.length.toLong, Stats.rowsHash(rows))
          rec.check(s"corpus_pipeline.$q.$kind", expected.get(q).contains(h), s"$h vs ${expected.get(q)}")
          true
        case None => false
      }
    }
    if (ok) Some(secs.toMap) else None
  }

  /** Memo-cold pass after `clearMemos`, then [[WarmPasses]] warm passes;
    * a query's warm time is its median over those passes. */
  def round(): Boolean = {
    Trace.span("memo.clearMemos")(GraftCaches.clearMemos())
    val res = for {
      cold <- pass("cold")
      warms <- (1 to WarmPasses).foldLeft(Option(List.empty[Map[String, Double]])) { (acc, _) =>
        acc.flatMap(done => pass("warm").map(_ :: done))
      }
    } yield {
      val warm = Queries.map(q => q -> Stats.median(warms.map(_(q)))).toMap
      c.e2e("build_s", "s", cold.values.sum)
      c.e2e("serve_s", "s", warm.values.sum)
      c.e2e("pipeline_cold_s", "s", cold.values.sum)
      c.e2e("pipeline_s", "s", warm.values.sum)
      Queries.foreach { q =>
        c.e2e(s"operators.$q.cold_s", "s", cold(q))
        c.e2e(s"operators.$q.warm_s", "s", warm(q))
        if (c.tracing) c.layer(s"memo.$q.cold_extra_s", "s", cold(q) - warm(q))
      }
    }
    if (c.tracing && res.isDefined) tracedWarmPasses += WarmPasses
    res.isDefined
  }

  def layers(): Unit = {
    val sc = spark.sparkContext
    val n = math.max(1, tracedWarmPasses)
    Queries.foreach { q =>
      val a = c.metrics.get(sc, s"operators.$q.warm")
      c.layer(s"operators.$q.task_cpu_s", "s", a.cpuNs / 1e9 / n)
      c.layer(s"operators.$q.shuffle_bytes", "bytes", a.shuffleBytes.toDouble / n)
      c.layer(s"operators.$q.spill_bytes", "bytes", a.spillBytes.toDouble / n)
    }
    c.layer("memo.storage_mb", "MB", sc.getRDDStorageInfo.map(_.memSize).sum / 1048576.0)
  }
}
