package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Union-find canonicalization as distributed connected components over a
  * `Dataset` of edges, via alternating large-star / small-star rounds
  * (Kiveris et al., "Connected Components in MapReduce and Beyond", SoCC'14 —
  * public algorithm; converges in O(log n) rounds vs O(diameter) for naive
  * min-label propagation).
  *
  * Node ids are strings (qids); the canonical representative of a component
  * is its lexicographic minimum.
  *
  * Scale hardening (VERDICT r01 #5):
  *  - lineage is cut per round by `localCheckpoint` by default — but local
  *    checkpoints die with their executor, so cluster runs pass a
  *    `checkpointDir` and get RELIABLE `checkpoint()` to shared storage
  *    (a lost executor mid-fixpoint then recovers instead of failing the job);
  *  - the per-node min-reductions CAN be two-phase salted on the NEIGHBOR
  *    value (content hash, deterministic under recompute): a giant star
  *    funnels every neighbor into one groupBy key, and while map-side partial
  *    aggregation bounds reducer input to one row per map partition, the
  *    pathological one-map-partition-per-hot-key layout does arise after
  *    skewed joins — the salt makes the bound unconditional. min is
  *    idempotent/associative so the result is bit-identical. Because the
  *    second phase costs a real extra shuffle at EVERY scale (VERDICT r02 #4:
  *    +62% on cc_components when unconditional), the salt is now GATED on
  *    observed skew: each convergence check also measures the max root
  *    degree of the current edge set (for free, in the same job), and the
  *    salt switches on only when a root exceeds `autoSaltMaxDegree` —
  *    emergent giant stars are detected mid-fixpoint, typical inputs never
  *    pay the second phase;
  *  - driver round-trips are halved: two large/small-star rounds run per
  *    convergence check (the check is a driver barrier — a fixed serial cost
  *    the full-span scaling pair exposes; VERDICT r02 next-step #2).
  */
object Canonicalize {

  /** Two-phase min: phase 1 groups by (key, hash(value) mod saltN), phase 2
    * reduces the ≤saltN partials. Identical result to a direct groupBy-min.
    */
  private def saltedMin(df: DataFrame, key: String, valCol: String,
      saltN: Int): DataFrame =
    if (saltN <= 1)
      df.groupBy(col(key)).agg(min(col(valCol)).as(valCol))
    else
      df.withColumn("_s", pmod(xxhash64(col(valCol)), lit(saltN.toLong)))
        .groupBy(col(key), col("_s")).agg(min(col(valCol)).as(valCol))
        .groupBy(col(key)).agg(min(col(valCol)).as(valCol))

  /** large-star: connect every neighbor strictly larger than u to
    * min(u ∪ N(u)).
    */
  private def largeStar(edges: DataFrame, saltN: Int): DataFrame = {
    val und = edges.select(col("u"), col("v"))
      .union(edges.select(col("v").as("u"), col("u").as("v")))
    val mins = saltedMin(und, "u", "v", saltN)
      .select(col("u").as("lu"), least(col("lu"), col("v")).as("m"))
    und.join(mins, col("u") === col("lu"))
      .filter(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))
      .distinct()
  }

  /** small-star: for u > v edges, connect every smaller neighbor (and u) to
    * min(u ∪ smaller-N(u)).
    */
  private def smallStar(edges: DataFrame, saltN: Int): DataFrame = {
    val dir = edges
      .select(greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
      .filter(col("u") =!= col("v"))
    val mins = saltedMin(dir, "u", "v", saltN).select(col("u"), col("v").as("m"))
    dir.join(mins, Seq("u"))
      .select(col("v").as("u"), col("m").as("v"))
      .union(mins.select(col("u"), col("m").as("v")))
      .filter(col("u") =!= col("v"))
      .distinct()
  }

  /** Driver union-find with path compression over a SMALL collected edge
    * list — the fast path for graphs under `driverMaxEdges`: the
    * distributed fixpoint costs O(log n) driver barriers of 3–5 jobs each,
    * a fixed serial price that dwarfs the work itself on small graphs
    * (typical after `distinct()` when co-reference is sparse). Identical
    * output contract: component minimum as the canonical id.
    */
  private def driverComponents(
      spark: org.apache.spark.sql.SparkSession,
      rows: Array[org.apache.spark.sql.Row],
      nodeType: org.apache.spark.sql.types.DataType): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{StructField, StructType}
    val parent = scala.collection.mutable.HashMap.empty[Any, Any]
    def find(x: Any): Any = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x // path compression
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    rows.foreach { e =>
      val (ra, rb) = (find(e.get(0)), find(e.get(1)))
      if (ra != rb) parent(rb) = ra
    }
    // strings must compare in UTF-8 BYTE order to match the distributed
    // fixpoint's min (Spark's UTF8String compares binary, i.e. code-point
    // order; Java String.compareTo is UTF-16 code-unit order, which ranks
    // supplementary characters BELOW [0xE000, 0xFFFF] BMP ones via their
    // surrogates — the two paths would elect different representatives for
    // the same component, ADVICE r04)
    def lt(a: Any, b: Any): Boolean = (a, b) match {
      case (x: String, y: String) =>
        java.util.Arrays.compareUnsigned(
          x.getBytes(java.nio.charset.StandardCharsets.UTF_8),
          y.getBytes(java.nio.charset.StandardCharsets.UTF_8)) < 0
      case _ => a.asInstanceOf[Comparable[Any]].compareTo(b) < 0
    }
    val minOf = scala.collection.mutable.HashMap.empty[Any, Any]
    val nodes = rows.iterator.flatMap(e => Iterator(e.get(0), e.get(1))).toSet
    nodes.foreach { n =>
      val r = find(n)
      if (!minOf.contains(r) || lt(n, minOf(r))) minOf(r) = n
    }
    val schema = StructType(Seq(StructField("node", nodeType),
      StructField("canonical_id", nodeType)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        nodes.toSeq.map(n => Row(n, minOf(find(n)))),
        math.max(1, spark.sparkContext.defaultParallelism / 4)),
      schema)
  }

  /** Run to fixpoint; returns the canonical mapping (node, canonical_id)
    * covering every node that appears in `edges` (singletons absent — callers
    * coalesce missing nodes to themselves).
    *
    * @param checkpointDir reliable checkpoint location for cluster runs;
    *                      None → executor-local checkpoints (single-node use)
    * @param skewSaltN     salt fan-out for the min-reductions: a positive
    *                      value forces it (1 disables); 0 (the default) is
    *                      AUTO — start unsalted, switch to 16 for the next
    *                      rounds when the convergence check observes a root
    *                      whose degree exceeds `autoSaltMaxDegree`
    * @param autoSaltMaxDegree emergent-star degree above which AUTO mode
    *                      enables the salt (a single reducer/join task
    *                      absorbing millions of rows for one key is where
    *                      the two-phase reduction starts paying for itself)
    * @param driverMaxEdges size guard for the driver union-find fast path
    *                      (the `detectRouted` pattern): a bounded
    *                      `limit(N+1).collect()` probes the deduped edge
    *                      set — under the bound, one job replaces the whole
    *                      fixpoint; over it, the probe cost is capped at N
    *                      rows and the distributed fixpoint runs as before.
    *                      0 disables the fast path (tests of the
    *                      distributed machinery force this).
    */
  def connectedComponents(edges0: DataFrame, maxIter: Int = 25,
      checkpointDir: Option[String] = None, skewSaltN: Int = 0,
      autoSaltMaxDegree: Long = 1000000L,
      driverMaxEdges: Long = 1000000L): DataFrame = {
    val spark = edges0.sparkSession
    val dedup0 = edges0.select(col("u"), col("v"))
      .filter(col("u") =!= col("v")).distinct()
    // the probe must not make the over-threshold path pay the (possibly
    // expensive) upstream edge computation twice: persist across the probe
    // and, on fall-through, seed the fixpoint from the cache via an EAGER
    // initial checkpoint before releasing it
    var probed: Option[DataFrame] = None
    if (driverMaxEdges > 0) {
      val d = dedup0.persist()
      probed = Some(d)
      val cap = math.min(driverMaxEdges + 1, Int.MaxValue.toLong).toInt
      val rows = d.limit(cap).collect()
      if (rows.length <= driverMaxEdges) {
        val out = driverComponents(spark, rows, d.schema("u").dataType)
        d.unpersist(blocking = false)
        return out
      }
    }
    val cut: DataFrame => DataFrame = checkpointDir match {
      case Some(dir) =>
        spark.sparkContext.setCheckpointDir(dir)
        // reliable path stays EAGER: recovery correctness wants the
        // checkpoint on stable storage before the round is consumed
        df => df.checkpoint()
      case None =>
        // LAZY local checkpoint: blocks cache + lineage truncates when the
        // convergence-check job first computes them, so a round pair costs
        // ONE driver barrier (the check), not three
        df => df.localCheckpoint(false)
    }
    val auto = skewSaltN <= 0
    var salt = if (auto) 1 else skewSaltN
    var edges = probed match {
      case Some(d) =>
        // eager checkpoint off the probe's cache (one extra barrier, no
        // recompute of the upstream aggregation), then release the cache
        val e = if (checkpointDir.isDefined) d.checkpoint()
        else d.localCheckpoint(true)
        d.unpersist(blocking = false)
        e
      case None => cut(dedup0)
    }
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      // two rounds per driver barrier (the check collect is the serial cost)
      val a = cut(smallStar(largeStar(edges, salt), salt))
      val b = cut(smallStar(largeStar(a, salt), salt))
      // fixpoint: successive edge sets stable. ONE job: per-side count +
      // order-insensitive checksum, grouped by root first so the same pass
      // also yields the max root degree (the emergent-skew probe for AUTO
      // salting — largeStar/smallStar group on the star root `v`).
      val stats = edges.select(lit(0).as("side"), col("u"), col("v"))
        .union(a.select(lit(1).as("side"), col("u"), col("v")))
        .union(b.select(lit(2).as("side"), col("u"), col("v")))
        .groupBy(col("side"), col("v"))
        .agg(count(lit(1)).as("n"), expr("bit_xor(xxhash64(u, v))").as("h"))
        .groupBy(col("side"))
        .agg(sum(col("n")).as("n"), expr("bit_xor(h)").as("h"),
          max(col("n")).as("maxdeg"))
        .collect()
        .map(r => r.getInt(0) -> ((r.getLong(1), r.get(2), r.getLong(3)))).toMap
      def same(x: Int, y: Int): Boolean =
        stats.get(x).map(t => (t._1, t._2)) == stats.get(y).map(t => (t._1, t._2))
      converged = same(0, 1) || same(1, 2)
      if (auto)
        salt = if (stats.get(2).exists(_._3 > autoSaltMaxDegree)) 16 else 1
      edges = b
      iter += 2
    }
    // after convergence the graph is a star forest: v is the root
    val stars = edges.select(col("u").as("node"), col("v").as("canonical_id"))
    val roots = edges.select(col("v").as("node")).distinct()
      .withColumn("canonical_id", col("node"))
    stars.union(roots)
      .groupBy("node").agg(min(col("canonical_id")).as("canonical_id"))
  }

  /** Rewrite triples through the canonical map (left joins; ids without a
    * component map to themselves).
    */
  def canonicalizeTriples(triples: DataFrame, canon: DataFrame): DataFrame = {
    val cs = canon.select(col("node").as("s_node"), col("canonical_id").as("s_canon"))
    val co = canon.select(col("node").as("o_node"), col("canonical_id").as("o_canon"))
    triples
      .join(cs, triples("subj") === col("s_node"), "left")
      .join(co, triples("obj") === col("o_node"), "left")
      .withColumn("subj", coalesce(col("s_canon"), col("subj")))
      .withColumn("obj", coalesce(col("o_canon"), col("obj")))
      .drop("s_node", "s_canon", "o_node", "o_canon")
  }
}
