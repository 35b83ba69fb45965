package graft

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{LogicalRDD, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.StorageLevel
import org.scalatest.Assertions._

/** Cache-lifecycle checks shared by the leak and plan tests. */
object CacheChecks {
  private def spark = TestSpark.spark

  /** Runs `body` and asserts that it leaves no persisted RDD behind. A
    * [[CacheScope]] unpersists without blocking, so this polls
    * `getPersistentRDDs` by rdd id until the body's additions are gone (30 s
    * at most). A returned frame's own local-checkpoint RDDs are exempt:
    * they belong to the caller and free when it drops the frame.
    */
  def assertReleased[A](body: => A): A = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val out = body
    val result = out match {
      case df: org.apache.spark.sql.Dataset[_] =>
        df.queryExecution.analyzed.collect { case r: LogicalRDD => r.rdd.id }.toSet
      case _ => Set.empty[Int]
    }
    def leaked = sc.getPersistentRDDs.keySet -- before -- result
    val deadline = System.currentTimeMillis() + 30000
    while (leaked.nonEmpty && System.currentTimeMillis() < deadline)
      Thread.sleep(100)
    assert(leaked.isEmpty, s"cached RDDs left behind: rdd ids $leaked")
    out
  }

  /** Closes a caller-owned scope that claimed something and asserts, with
    * no waiting, that none of its frames is still cached.
    */
  def closeReleased(scope: CacheScope): Unit = {
    val claimed = scope.claimed
    assert(claimed.nonEmpty, "the scope claimed no cache")
    scope.close()
    assert(claimed.forall(_.storageLevel == StorageLevel.NONE),
      s"still cached after close: ${claimed.map(_.storageLevel)}")
  }

  /** The optimized plan of the last local checkpoint `body` ran: what an
    * operator built on [[CacheScope.materialized]] materialized.
    */
  def checkpointedPlan(body: => Any): LogicalPlan = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, QueryExecution)]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = seen.add(f -> qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      // the listener bus is asynchronous; events arrive in order
      spark.range(1).toDF("cache_checks_marker").collect()
      val deadline = System.nanoTime() + 30000000000L
      def marked = seen.toArray(Array.empty[(String, QueryExecution)])
        .exists(_._2.analyzed.output.exists(_.name == "cache_checks_marker"))
      while (!marked && System.nanoTime() < deadline) Thread.sleep(20)
    } finally spark.listenerManager.unregister(listener)
    seen.toArray(Array.empty[(String, QueryExecution)])
      .filter(_._1.toLowerCase.contains("checkpoint")).lastOption
      .getOrElse(fail("no local checkpoint ran"))._2.optimizedPlan
  }
}
