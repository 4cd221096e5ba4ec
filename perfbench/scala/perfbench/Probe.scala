package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** In-memory spans around the benchmark's calls into each layer. A span
  * records its name, start, end, the span that caused it and the id of the
  * round (trace) it belongs to. Only the benchmark's driver thread opens
  * spans, so a plain stack is enough. Disabled unless `on` is set; the
  * untraced run pays one boolean test per call. */
object Trace {
  final case class Span(id: Int, parent: Int, trace: Int, name: String, startNs: Long, endNs: Long) {
    def durNs: Long = endNs - startNs
  }

  @volatile var on = false
  private val done = mutable.ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil
  private var nextId = 0
  private var traceId = 0

  /** Start a new trace: every later span until the next call shares its id. */
  def newTrace(): Unit = traceId += 1

  def span[T](name: String)(f: => T): T =
    if (!on) f
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.getOrElse(-1)
      open = id :: open
      val t0 = System.nanoTime()
      try f
      finally {
        open = open.tail
        done += Span(id, parent, traceId, name, t0, System.nanoTime())
      }
    }

  def spans: Seq[Span] = done.toSeq

  /** Self time per span: its duration minus its children's durations
    * (children run on the same thread, so they never overlap). */
  def selfNs(all: Seq[Span]): Map[Int, Long] = {
    val childNs = all.groupMapReduce(_.parent)(_.durNs)(_ + _)
    all.map(s => s.id -> (s.durNs - childNs.getOrElse(s.id, 0L))).toMap
  }
}

/** Spark task metrics summed per job group, so a phase or query that runs
  * under `sc.setJobGroup(name, ...)` can be charged its executor CPU,
  * shuffle bytes, spill bytes and stage count. */
final class GroupMetrics extends SparkListener {
  final class Acc {
    var stages = 0L
    var cpuNs = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
  }

  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val acc = mutable.HashMap.empty[String, Acc]

  private def groupOf(stageId: Int): Option[String] = synchronized(stageGroup.get(stageId))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    g.foreach(g => synchronized(e.stageInfos.foreach(si => stageGroup(si.stageId) = g)))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    groupOf(e.stageInfo.stageId).foreach(g => synchronized(acc.getOrElseUpdate(g, new Acc).stages += 1))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) groupOf(e.stageId).foreach { g =>
      synchronized {
        val a = acc.getOrElseUpdate(g, new Acc)
        a.cpuNs += m.executorCpuTime
        a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten + m.shuffleReadMetrics.totalBytesRead
        a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  /** Totals for one group once every event posted so far is delivered. */
  def get(sc: SparkContext, group: String): Acc = {
    org.apache.spark.PerfBusDrain.drain(sc)
    synchronized(acc.getOrElse(group, new Acc))
  }
}

/** Raw samples, checks and context of one run, written as JSON for the
  * Python side (`run.py`), which reduces samples to the reported numbers. */
final class Recorder {
  private val samples = mutable.LinkedHashMap.empty[String, (String, mutable.ArrayBuffer[Double])]
  private val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  private val errors = mutable.ArrayBuffer.empty[String]
  private val info = mutable.LinkedHashMap.empty[String, String]
  var attempted = 0L
  var failed = 0L

  def add(name: String, unit: String, v: Double): Unit =
    samples.getOrElseUpdate(name, (unit, mutable.ArrayBuffer.empty[Double]))._2 += v

  def addInfo(key: String, value: Any): Unit = info(key) = Json.value(value)

  /** A correctness check made outside every timed call. */
  def check(name: String, ok: Boolean, detail: => String): Unit = {
    attempted += 1
    if (!ok) failed += 1
    checks += ((name, ok, if (ok) "" else detail))
    if (!ok) System.err.println(s"[perfbench] check failed: $name $detail")
  }

  /** One attempted operation: its wall time in seconds, or None when it
    * threw. A failed call is counted and never recorded as a sample. */
  def timed[T](span: String)(f: => T): Option[(T, Double)] = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val r = Trace.span(span)(f)
      Some((r, (System.nanoTime() - t0) / 1e9))
    } catch {
      case NonFatal(e) =>
        failed += 1
        errors += s"$span: $e"
        System.err.println(s"[perfbench] $span failed: $e")
        e.printStackTrace()
        None
    }
  }

  def json: String = {
    val s = samples.map { case (k, (u, vs)) =>
      s"${Json.str(k)}:{\"unit\":${Json.str(u)},\"values\":[${vs.map(Json.num).mkString(",")}]}"
    }.mkString("{", ",", "}")
    val c = checks.map { case (n, ok, d) =>
      s"{\"name\":${Json.str(n)},\"ok\":$ok,\"detail\":${Json.str(d)}}"
    }.mkString("[", ",", "]")
    val i = info.map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",", "}")
    s"""{"attempted":$attempted,"failed":$failed,"samples":$s,"checks":$c,""" +
      s""""errors":[${errors.map(Json.str).mkString(",")}],"info":$i}"""
  }
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  def value(v: Any): String = v match {
    case s: String => str(s)
    case d: Double => num(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => s"${str(k.toString)}:${value(x)}" }.mkString("{", ",", "}")
    case other => str(other.toString)
  }
}

/** Process-level readings: CPU time, GC time, heap peak, load average. */
object Jvm {
  private val os = ManagementFactory.getOperatingSystemMXBean

  def cpuNs: Long = os match {
    case o: com.sun.management.OperatingSystemMXBean => o.getProcessCpuTime
    case _ => 0L
  }

  def loadAvg: Double = os.getSystemLoadAverage

  def gcMs: Long = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum
  }

  def resetHeapPeak(): Unit = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
  }

  def heapPeakMb: Double = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0
  }
}
