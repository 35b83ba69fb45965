package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.scalatest.Assertions._

/** One Spark job as a listener saw it: its job group and description (the
  * local properties it was submitted with) and its start and end in
  * listener-event time (epoch ms; -1 when no end was seen).
  */
final case class JobRec(group: String, description: String, startMs: Long, endMs: Long) {
  def overlaps(o: JobRec): Boolean = startMs < o.endMs && o.startMs < endMs
}

/** Spark-job accounting shared by the pipeline tests. */
object JobLog {
  private def spark = TestSpark.spark

  /** The Spark jobs `body` launches, in start order. `body` runs under a
    * fresh job group, which the threads it creates inherit. The listener
    * bus is asynchronous, so a marker job in another group runs after
    * `body`, and the jobs are read once the listener has seen the marker
    * (events arrive in order).
    */
  def jobsOf(body: => Unit): Seq[JobRec] = {
    val sc = spark.sparkContext
    val group = s"probe-${System.nanoTime()}"
    val started = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
    val ended = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        def prop(k: String) = String.valueOf(e.properties.getProperty(k))
        started.put(e.jobId, JobRec(prop("spark.jobGroup.id"), prop("spark.job.description"),
          e.time, -1L))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = ended.put(e.jobId, e.time)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "probe")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(s"$group-end", "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      def markerSeen = started.values().toArray(Array.empty[JobRec]).exists(_.group == s"$group-end")
      val deadline = System.nanoTime() + 30000000000L
      while (!markerSeen && System.nanoTime() < deadline) Thread.sleep(10)
      assert(markerSeen, "listener never saw the marker job")
      started.entrySet().toArray(Array.empty[java.util.Map.Entry[Int, JobRec]]).toSeq
        .filter(_.getValue.group == group)
        .map(e => e.getValue.copy(endMs = ended.getOrDefault(e.getKey, -1L)))
        .sortBy(_.startMs)
    } finally sc.removeSparkListener(listener)
  }

  /** How many Spark jobs `body` launches. */
  def jobsLaunchedBy(body: => Unit): Int = jobsOf(body).size
}
