package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** One finished task, attributed to the job description its job carried
  * ("" when the job had none).
  */
final case class TaskRec(key: String, cpuNs: Long, fetchWaitMs: Long,
    shuffleWriteBytes: Long, spillBytes: Long, durationMs: Long, failed: Boolean)

/** Task metrics summed over a set of tasks. */
final case class Totals(tasks: Seq[TaskRec]) {
  def cpuS: Double = tasks.map(_.cpuNs).sum / 1e9
  def fetchWaitS: Double = tasks.map(_.fetchWaitMs).sum / 1e3
  def shuffleWriteBytes: Long = tasks.map(_.shuffleWriteBytes).sum
  def spillBytes: Long = tasks.map(_.spillBytes).sum
  def failures: Int = tasks.count(_.failed)
  /** Longest task over the median task; 0 when there were no tasks. */
  def skew: Double =
    if (tasks.isEmpty) 0.0
    else {
      val d = tasks.map(_.durationMs.toDouble).sorted
      d.last / math.max(Stats.median(d), 1.0)
    }
}

/** The benchmark's listener: records every task's metrics. Stage ids map to
  * the description of the job that submitted them, which is how the traced
  * run attributes Spark work to graft stages and queries.
  */
final class Ledger(sc: SparkContext) extends SparkListener {
  private val stageKey = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val recs = ArrayBuffer.empty[TaskRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val d = Option(e.properties)
      .flatMap(p => Option(p.getProperty(Tracer.JobDescription)))
      .getOrElse("")
    e.stageIds.foreach(s => stageKey.put(s, d))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val rec = TaskRec(
      Option(stageKey.get(e.stageId)).getOrElse(""),
      if (m == null) 0L else m.executorCpuTime,
      if (m == null) 0L else m.shuffleReadMetrics.fetchWaitTime,
      if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
      if (m == null) 0L else m.diskBytesSpilled,
      e.taskInfo.duration,
      e.reason != Success)
    synchronized { recs += rec }
  }

  /** Position after every event delivered so far. */
  def mark(): Int = {
    org.apache.spark.perfbench.Bus.drain(sc)
    synchronized { recs.size }
  }

  /** Tasks finished between two marks, optionally only those of one key. */
  def between(from: Int, to: Int, key: Option[String] = None): Totals = synchronized {
    Totals(recs.slice(from, to).filter(r => key.forall(_ == r.key)).toSeq)
  }
}

/** A span: one call into a layer, timed from the benchmark's side. */
final case class Span(id: Int, name: String, parent: Int, startNs: Long, endNs: Long) {
  def wallS: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. `span(name, describe = true)` also sets the Spark
  * job description to `name` for the duration of the call, so the [[Ledger]]
  * attributes the call's tasks to it. Spans are written out once, at the end.
  */
final class Tracer(spark: SparkSession, val runId: String) {
  private val sc = spark.sparkContext
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = List(0)
  private var nextId = 1
  private val epochMs0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()

  def span[A](name: String, describe: Boolean = false)(f: => A): A = {
    val id = nextId
    nextId += 1
    val parent = stack.head
    stack = id :: stack
    val prev = sc.getLocalProperty(Tracer.JobDescription)
    if (describe) sc.setJobDescription(name)
    val t0 = System.nanoTime()
    try f
    finally {
      spans += Span(id, name, parent, t0, System.nanoTime())
      stack = stack.tail
      if (describe) sc.setJobDescription(prev)
    }
  }

  /** The most recent span with this name. */
  def last(name: String): Option[Span] = spans.reverseIterator.find(_.name == name)

  /** Span duration minus the time its direct children cover (children of
    * one span run one after another, never overlapping).
    */
  def selfS(s: Span): Double =
    s.wallS - spans.filter(_.parent == s.id).map(_.wallS).sum

  /** One JSON object per span: name, start, end (epoch ms), parent, run id. */
  def write(path: java.nio.file.Path): Unit = {
    def ms(ns: Long) = epochMs0 + (ns - nano0) / 1e6
    val lines = spans.sortBy(_.startNs).map { s =>
      f"""{"run":"$runId","id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
        f""""start_ms":${ms(s.startNs)}%.3f,"end_ms":${ms(s.endNs)}%.3f,""" +
        f""""self_s":${selfS(s)}%.6f}"""
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}

object Tracer {
  /** The local property `SparkContext.setJobDescription` sets. */
  val JobDescription = "spark.job.description"
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.size
    if (n == 0) Double.NaN
    else if (n % 2 == 1) s(n / 2)
    else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** First and third quartile, as Python's `statistics.quantiles(n=4)`. */
  def quartiles(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    val n = s.size
    if (n < 2) (s.headOption.getOrElse(Double.NaN), s.headOption.getOrElse(Double.NaN))
    else {
      def q(i: Int): Double = {
        val m = n + 1
        val j = math.max(1, math.min(n - 1, i * m / 4))
        val delta = i * m - j * 4
        (s(j - 1) * (4 - delta) + s(j) * delta) / 4
      }
      (q(1), q(3))
    }
  }

  def geomean(xs: Seq[Double]): Double =
    math.exp(xs.map(x => math.log(math.max(x, 1e-9))).sum / xs.size)
}
