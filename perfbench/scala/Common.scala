package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** Minimal JSON writer: maps (kept in insertion order), sequences,
  * numbers, booleans, strings, null. */
object Json {
  def esc(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => esc(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case f: Float => num(f.toDouble)
    case d: Double => num(d)
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => esc(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case a: Array[_] => apply(a.toSeq)
    case other => esc(other.toString)
  }
}

/** Latency statistics. Percentiles use the nearest-rank rule: the p-th
  * percentile of n sorted samples is the one at rank ceil(p/100 · n). */
object Stats {
  def rank(p: Double, n: Int): Int = math.max(1, math.ceil(p / 100.0 * n - 1e-9).toInt)

  /** Samples strictly beyond the p-th percentile's rank. */
  def beyond(p: Double, n: Int): Int = n - rank(p, n)

  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    s(rank(p, s.size) - 1)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** The highest of `candidates` with at least `minBeyond` samples
    * beyond it, if any. */
  def highestReportable(n: Int, minBeyond: Int = 10,
                        candidates: Seq[Double] = Seq(99.9, 99, 95, 90, 75, 50))
  : Option[Double] = candidates.sorted.reverse.find(p => beyond(p, n) >= minBeyond)
}

/** One span: a timed call into a layer. `parent` is -1 for a root. */
final case class Span(id: Int, parent: Int, name: String, req: Long,
                      startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** Spans kept in memory and written once at the end. Nesting is per
  * thread: a span opened inside another on the same thread is its child. */
class Tracer(val enabled: Boolean) {
  private val ids = new AtomicInteger()
  private val done = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val stack = ThreadLocal.withInitial[List[Int]](() => Nil)

  def span[T](name: String, req: Long)(f: => T): T =
    if (!enabled) f
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get.headOption.getOrElse(-1)
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try f
      finally {
        done.add(Span(id, parent, name, req, t0, System.nanoTime()))
        stack.set(stack.get.tail)
      }
    }

  def spans: Seq[Span] = done.asScala.toSeq.sortBy(_.id)
}

object Tracer {
  /** Self time of every span: its duration minus the part of its
    * interval covered by its children (overlapping children count once,
    * child time outside the parent's interval not at all). */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val iv = children.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var curA = Long.MinValue
      var curB = Long.MinValue
      iv.foreach { case (a, b) =>
        if (a > curB) {
          if (curB > curA) covered += curB - curA
          curA = a; curB = b
        } else curB = math.max(curB, b)
      }
      if (curB > curA) covered += curB - curA
      s.id -> (s.durNs - covered)
    }.toMap
  }

  def toJson(s: Span, self: Long): String = Json(mutable.LinkedHashMap(
    "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "req" -> s.req,
    "start_ns" -> s.startNs, "end_ns" -> s.endNs, "self_ns" -> self))
}

/** Spark work counted per job group. The benchmark thread sets the group
  * (`SparkContext.setJobGroup`) around each call it attributes. */
final class GroupCounts {
  val jobs = new AtomicLong
  val stages = new AtomicLong
  val tasks = new AtomicLong
  val taskCpuNs = new AtomicLong
  val shuffleReadB = new AtomicLong
  val shuffleWriteB = new AtomicLong
  val spillB = new AtomicLong
}

class JobListener extends SparkListener {
  private val byGroup = new ConcurrentHashMap[String, GroupCounts]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val NoGroup = "<none>"

  private def counts(g: String): GroupCounts =
    byGroup.computeIfAbsent(g, _ => new GroupCounts)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse(NoGroup)
    counts(g).jobs.incrementAndGet()
    e.stageIds.foreach(id => stageGroup.put(id, g))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageGroup.get(e.stageInfo.stageId)).foreach(g =>
      counts(g).stages.incrementAndGet())

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val g = Option(stageGroup.get(e.stageId)).getOrElse(NoGroup)
    val c = counts(g)
    c.tasks.incrementAndGet()
    Option(e.taskMetrics).foreach { m =>
      c.taskCpuNs.addAndGet(m.executorCpuTime)
      c.shuffleReadB.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      c.shuffleWriteB.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      c.spillB.addAndGet(m.diskBytesSpilled)
    }
  }

  def get(group: String): GroupCounts = counts(group)
  def groups: Seq[String] = byGroup.keySet().asScala.toSeq
}

/** Attempted / failed operations per (operation type, door), with the
  * first error text of each cause. */
class Failures {
  private final class Cell {
    val attempted = new AtomicLong
    val failed = new AtomicLong
    val firstErrors = new ConcurrentHashMap[String, String]()
  }
  private val cells = new ConcurrentHashMap[(String, String), Cell]()
  private def cell(op: String, door: String) =
    cells.computeIfAbsent((op, door), _ => new Cell)

  def attempt(op: String, door: String): Unit = cell(op, door).attempted.incrementAndGet()

  def fail(op: String, door: String, cause: String, text: String): Unit = {
    val c = cell(op, door)
    c.failed.incrementAndGet()
    c.firstErrors.putIfAbsent(cause, Option(text).getOrElse("").take(400))
  }

  /** Record one attempt and run it; a thrown exception is a failure. */
  def run[T](op: String, door: String)(f: => T): Option[T] = {
    attempt(op, door)
    try Some(f)
    catch { case e: Exception =>
      fail(op, door, e.getClass.getSimpleName, String.valueOf(e.getMessage)); None }
  }

  def attempted: Long = cells.values().asScala.map(_.attempted.get).sum
  def failed: Long = cells.values().asScala.map(_.failed.get).sum

  def report: Seq[Map[String, Any]] =
    cells.asScala.toSeq.sortBy(_._1).map { case ((op, door), c) =>
      Map("op" -> op, "door" -> door, "attempted" -> c.attempted.get,
        "succeeded" -> (c.attempted.get - c.failed.get), "failed" -> c.failed.get,
        "first_errors" -> c.firstErrors.asScala.toSeq.sortBy(_._1).toMap)
    }
}

/** Process-level resource counters: the contention signature that sits
  * beside every timing. */
object Jvm {
  def processCpuNs: Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
      case _ => 0L
    }

  def gcMs: Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  def heapMaxMb: Long = Runtime.getRuntime.maxMemory / (1024 * 1024)

  def startMs: Long = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  /** (steal, total) jiffies of the machine from /proc/stat — time the
    * hypervisor gave the host's CPUs to other guests; (0, 0) where
    * the file does not exist. */
  def cpuJiffies: (Long, Long) =
    scala.util.Try {
      val f = scala.io.Source.fromFile("/proc/stat")
      try {
        val xs = f.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
        (if (xs.length > 7) xs(7) else 0L, xs.sum)
      } finally f.close()
    }.getOrElse((0L, 0L))

  def stealFrac(from: (Long, Long)): Double = {
    val (s1, t1) = cpuJiffies
    if (t1 > from._2) (s1 - from._1).toDouble / (t1 - from._2) else 0.0
  }
}
