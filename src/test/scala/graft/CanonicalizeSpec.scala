package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateMode, Final, Min, Partial}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.Canonicalize

/** Large-star/small-star CC vs a plain union-find oracle on adversarial
  * shapes: long chains (worst case for naive propagation), stars, cycles,
  * random graphs.
  */
class CanonicalizeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  def unionFind(edges: Seq[(String, String)]): Map[String, String] = {
    val parent = scala.collection.mutable.Map.empty[String, String]
    def find(x: String): String = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(if (ra < rb) rb else ra) = if (ra < rb) ra else rb
    }
    // canonical = min member of component
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val byRoot = nodes.groupBy(find)
    byRoot.flatMap { case (_, ns) => val m = ns.min; ns.map(_ -> m) }.toMap
  }

  /** The min aggregates of `df`'s physical plan in `mode`. */
  def minAggregates(df: DataFrame, mode: AggregateMode): Seq[BaseAggregateExec] =
    minAggregates(df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }, mode)

  def minAggregates(plan: SparkPlan, mode: AggregateMode): Seq[BaseAggregateExec] =
    plan.collect { case a: BaseAggregateExec if a.aggregateExpressions.exists(e =>
      e.mode == mode && e.aggregateFunction.isInstanceOf[Min]) => a }

  /** Runs the DISTRIBUTED fixpoint (fast path disabled): this spec's
    * shape tests exist to exercise the large/small-star machinery; the
    * driver fast path has its own equivalence test below.
    */
  def runCC(edges: Seq[(String, String)]): Map[String, String] = {
    import spark.implicits._
    Canonicalize.connectedComponents(edges.toDF("u", "v"), driverMaxEdges = 0)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
  }

  test("chain of 60 nodes collapses to one component") {
    val edges = (0 until 59).map(i => (f"N$i%03d", f"N${i + 1}%03d"))
    val got = runCC(edges)
    assert(got.values.toSet == Set("N000"))
    assert(got.keySet == (0 until 60).map(i => f"N$i%03d").toSet)
  }

  test("random graphs match union-find oracle") {
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 5) {
      val n = 30 + trial * 10
      val edges = (1 to n).map { _ =>
        (s"Q${rnd.nextInt(n)}", s"Q${rnd.nextInt(n)}")
      }.filter(e => e._1 != e._2)
      val got = runCC(edges)
      val want = unionFind(edges)
      assert(got == want, s"trial=$trial edges=$edges")
    }
  }

  test("cycle + disjoint star") {
    val cyc = Seq(("a", "b"), ("b", "c"), ("c", "a"))
    val star = Seq(("hub", "s1"), ("hub", "s2"), ("hub", "s3"))
    val got = runCC(cyc ++ star)
    assert(got("a") == "a" && got("b") == "a" && got("c") == "a")
    assert(got("s1") == "hub" && got("s2") == "hub" && got("s3") == "hub")
  }

  test("hub star matches union-find; each star step's min plans a partial aggregate") {
    import spark.implicits._
    // one hot root with 5000 leaves: every leaf's edge funnels into the
    // hub's min-reduction key
    val edges = (1 to 5000).map(i => (f"L$i%05d", "A_HUB"))
    val got = runCC(edges)
    val want = unionFind(edges)
    assert(got == want)
    assert(got.values.toSet == Set("A_HUB"))
    // the per-key bound needs no salt: each min-reduction is planned as
    // partial min → exchange → final min, so the hub reaches its reducer
    // as at most one partial row per map task
    val hub = edges.toDF("u", "v")
    for ((step, df) <- Seq("largeStar" -> Canonicalize.largeStar(hub),
        "smallStar" -> Canonicalize.smallStar(hub))) {
      val finals = minAggregates(df, Final)
      assert(finals.nonEmpty,
        s"$step plans no min-reduction:\n${df.queryExecution.executedPlan}")
      finals.foreach { f =>
        val below = f.child.collectFirst { case x: ShuffleExchangeExec => x }
          .flatMap(_.child.collectFirst { case a: BaseAggregateExec => a })
        assert(below.exists(minAggregates(_, Partial).nonEmpty),
          s"$step: no partial min below the exchange:\n${f.treeString}")
      }
    }
  }

  test("reliable checkpoint dir: identical result to local checkpoints") {
    val dir = java.nio.file.Files.createTempDirectory("cc-ck").toString
    import spark.implicits._
    val edges = (0 until 40).map(i => (f"N$i%03d", f"N${(i + 7) % 40}%03d"))
    val local = runCC(edges)
    val reliable = Canonicalize.connectedComponents(
      edges.toDF("u", "v"), checkpointDir = Some(dir), driverMaxEdges = 0)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(local == reliable)
    // the checkpoint directory was actually used
    assert(new java.io.File(dir).listFiles().nonEmpty)
  }

  test("driver fast path == distributed fixpoint; engages only under the bound") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val edges = ((1 to 200).map(_ => (s"Q${rnd.nextInt(80)}", s"Q${rnd.nextInt(80)}"))
      .filter(e => e._1 != e._2) ++ (0 until 30).map(i => (f"C$i%03d", f"C${i + 1}%03d")))
    // default bound: one bounded collect replaces the whole fixpoint
    val fast = Canonicalize.connectedComponents(edges.toDF("u", "v"))
    def hasAgg(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.optimizedPlan.collect {
        case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
      }.nonEmpty
    // the distributed path ends in a star-forest groupBy; the driver path
    // returns a plain parallelized result with no aggregate
    assert(!hasAgg(fast),
      s"under the bound the result must come from the driver union-find:\n${fast.queryExecution.optimizedPlan}")
    val fastMap = fast.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(fastMap == unionFind(edges))
    assert(fastMap == runCC(edges)) // distributed fixpoint agrees exactly
    // a bound below the edge count falls through to the distributed path
    val over = Canonicalize.connectedComponents(edges.toDF("u", "v"), driverMaxEdges = 5)
    assert(hasAgg(over), "over the bound the distributed fixpoint must run")
    assert(over.collect().map(r => r.getString(0) -> r.getString(1)).toMap == fastMap)
  }

  test("driver path min matches distributed UTF-8 byte order on supplementary chars") {
    import spark.implicits._
    // U+10000 (a supplementary char, UTF-16 surrogates 0xD800 0xDC00) vs
    // U+E000 (BMP): Java String order ranks the surrogate pair FIRST, while
    // Spark's UTF8String binary order ranks by code point — U+E000 is the
    // true minimum. Both paths must elect the same representative
    // (ADVICE r04).
    val supp = new String(Character.toChars(0x10000))
    val bmp = "\uE000"
    assert(supp.compareTo(bmp) < 0, "UTF-16 order must disagree (test premise)")
    val edges = Seq((supp, bmp), (bmp, "\uFFFDz"))
    val fast = Canonicalize.connectedComponents(edges.toDF("u", "v"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val dist = runCC(edges)
    assert(fast == dist, s"fast=$fast dist=$dist")
    assert(fast.values.toSet == Set(bmp), s"min must be the BMP char: $fast")
  }
}
