package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.TranscriptStore
import graft.synth.Synth

/** Input generation for the benchmark. Every table is a pure function of
  * `spark.range` ids (and, for the span, the input variant), so it always
  * holds the same rows at any parallelism. Inputs are written to parquet
  * during set-up; the timed jobs only read tables.
  */
object Inputs {

  /** Number of distinct span input variants. The workload seed selects one
    * (`seed mod Variants`); each variant's expected outputs are recorded in
    * `expected.tsv`, so every seed is checked against a recorded value.
    */
  val Variants = 8

  def variantOf(seed: Long): Int = java.lang.Math.floorMod(seed, Variants.toLong).toInt

  final case class SpanSizes(ents: Long, props: Long, convs: Long, turns: Int) {
    def totalTurns: Long = convs * turns
  }

  final case class SpanTables(entities: DataFrame, properties: DataFrame,
      redirects: DataFrame, transcripts: DataFrame)

  /** Writes the `Synth` dumps, redirects and transcripts of variant `v` under
    * `dir` and returns them read back. A variant renumbers the conversations
    * by a permutation and renames them: the conversations' contents, and so
    * the work and the co-reference graph, stay the same, while every
    * conversation id, its transcript bucket and its place in the sort order
    * change. Transcripts go through [[TranscriptStore]] (the conv-bucketed
    * input layout).
    */
  def writeSpan(spark: SparkSession, s: SpanSizes, v: Int, dir: String): SpanTables = {
    Synth.entityDump(spark, s.ents).write.mode("overwrite").parquet(s"$dir/entities")
    Synth.propertyDump(spark, s.props).write.mode("overwrite").parquet(s"$dir/properties")
    Synth.redirects(spark, s.ents).write.mode("overwrite").parquet(s"$dir/redirects")
    // 7919 is prime and so coprime to any conversation count it does not divide
    require(s.convs % 7919 != 0, "conversation count must not be a multiple of 7919")
    val conv = substring(col("conv_id"), 6, 12).cast("long")
    val turns = Synth.transcripts(spark, s.convs, s.turns, s.ents, s.props)
      .withColumn("conv_id", format_string(s"conv$v-%06d",
        pmod(conv * 7919L + lit(v * 104729L), lit(s.convs))))
    TranscriptStore.write(turns, s"$dir/transcripts",
      nBuckets = spark.sparkContext.defaultParallelism * 4)
    SpanTables(
      spark.read.parquet(s"$dir/entities"),
      spark.read.parquet(s"$dir/properties"),
      spark.read.parquet(s"$dir/redirects"),
      TranscriptStore.read(spark, s"$dir/transcripts"))
  }

  // ---- toolkit tables: the sf test-table schemas the 56 queries read ----

  private val words = Seq("a", "the", "row", "query", "stream", "fast", "spark",
    "line", "small", "customer", "group", "value", "hash", "batch", "sort",
    "data", "big", "filter", "key", "agg", "scan", "slow", "table", "part",
    "merge", "window", "order", "column", "join", "vector", "dup")

  /** Row counts of the toolkit tables (those of the sf0.01 test tables). */
  val ToolkitRows: Seq[(String, Long)] = Seq(
    "region" -> 5L, "nation" -> 25L, "supplier" -> 100L, "customer" -> 1500L,
    "part" -> 2000L, "orders" -> 15000L, "lineitem" -> 60000L,
    "events" -> 10000L, "documents" -> 500L, "embeddings" -> 500L)

  /** Writes the ten toolkit tables as `<dir>/<name>.parquet`. They are the
    * same on every seed: the toolkit's inputs are fixed, like the sf test
    * tables they stand in for.
    */
  def writeToolkit(spark: SparkSession, dir: String): Unit = {
    val rows = ToolkitRows.toMap
    // uniform long hash of (salt, columns)
    def h(salt: Int, cs: Column*): Column = xxhash64((lit(salt) +: cs): _*)
    def pick(salt: Int, n: Long, cs: Column*): Column = pmod(h(salt, cs: _*), lit(n))
    def unit(salt: Int, cs: Column*): Column =
      pick(salt, 1000000L, cs: _*).cast("double") / 1e6
    def money(salt: Int, lo: Double, hi: Double, cs: Column*): Column =
      round(lit(lo) + unit(salt, cs: _*) * (hi - lo), 2)
    def oneOf(xs: Seq[String], salt: Int, cs: Column*): Column =
      element_at(typedlit(xs), (pick(salt, xs.size.toLong, cs: _*) + 1).cast("int"))
    def ntz(epochSeconds: Column): Column =
      timestamp_seconds(epochSeconds).cast("timestamp_ntz")
    def ids(name: String): DataFrame = spark.range(rows(name)).toDF().repartition(1)
    val id = col("id")
    def save(name: String, df: DataFrame): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")

    save("region", ids("region").select(id.cast("int").as("r_regionkey"),
      element_at(typedlit(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")),
        (id + 1).cast("int")).as("r_name")))
    save("nation", ids("nation").select(id.cast("int").as("n_nationkey"),
      concat(lit("NATION_"), id).as("n_name"), pmod(id, lit(5)).cast("int").as("n_regionkey")))
    save("supplier", ids("supplier").select(id.as("s_suppkey"),
      format_string("Supplier#%09d", id).as("s_name"),
      pick(1, 25, id).cast("int").as("s_nationkey"),
      money(2, -999.99, 9999.99, id).as("s_acctbal")))
    save("customer", ids("customer").select(id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      pick(3, 25, id).cast("int").as("c_nationkey"),
      money(4, -999.99, 9999.99, id).as("c_acctbal"),
      oneOf(Seq("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"), 5, id)
        .as("c_mktsegment")))
    save("part", ids("part").select(id.as("p_partkey"),
      concat(oneOf(Seq("blue", "hot", "small", "old", "red", "new", "cold", "large"), 6, id),
        lit(" "), oneOf(Seq("bolt", "gear", "anvil", "widget", "ring", "rod", "plate", "gizmo"),
          7, id)).as("p_name"),
      concat(lit("Brand#"), pick(8, 25, id) + 1).as("p_brand"),
      oneOf(Seq("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"), 9, id).as("p_type"),
      (pick(10, 50, id) + 1).cast("int").as("p_size"),
      round(lit(900.0) + pmod(id, lit(1000L)) * 0.1, 2).as("p_retailprice")))
    save("orders", ids("orders").select(id.as("o_orderkey"),
      pick(11, rows("customer"), id).as("o_custkey"),
      oneOf(Seq("F", "O", "P"), 12, id).as("o_orderstatus"),
      money(13, 1000.0, 500000.0, id).as("o_totalprice"),
      ntz(lit(788918400L) + pick(14, 2400, id) * 86400L).as("o_orderdate"),
      oneOf(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"), 15, id)
        .as("o_orderpriority")))
    val qty = (pick(18, 50, id) + 1).cast("double")
    save("lineitem", ids("lineitem").select(
      (id / 4).cast("long").as("l_orderkey"),
      pick(16, rows("part"), id).as("l_partkey"),
      pick(17, rows("supplier"), id).as("l_suppkey"),
      (pmod(id, lit(4L)) + 1 + pick(19, 4, id)).cast("int").as("l_linenumber"),
      qty.as("l_quantity"),
      round(qty * (lit(900.0) + unit(20, id) * 1200.0), 2).as("l_extendedprice"),
      (pick(21, 11, id).cast("double") / 100).as("l_discount"),
      (pick(22, 9, id).cast("double") / 100).as("l_tax"),
      oneOf(Seq("A", "N", "R"), 23, id).as("l_returnflag"),
      oneOf(Seq("O", "F"), 24, id).as("l_linestatus"),
      ntz(lit(788918400L) + pick(25, 2500, id) * 86400L).as("l_shipdate")))
    save("events", ids("events").select(id.as("event_id"),
      (timestamp_micros(lit(1704067200000000L) + id * 259000000L +
        pick(26, 200000000L, id))).cast("timestamp_ntz").as("ts"),
      pick(27, 150, id).as("user_id"),
      oneOf(Seq("click", "signup", "error", "view", "purchase"), 28, id).as("event_type"),
      money(29, 0.01, 490.0, id).as("value"),
      format_string("{\"k\": %d}", pick(30, 100, id)).as("props")))
    // documents: bag-of-words text over the sf tables' vocabulary; every 25th
    // document repeats its predecessor and every 7th extends it by one word,
    // so the exact and near-duplicate operators have duplicates to find
    val body = array_join(transform(sequence(lit(1), (pick(31, 90, id) + 10).cast("int")),
      i => element_at(typedlit(words), (pick(32, words.size.toLong, id, i) + 1).cast("int"))), " ")
    val src = pmod(id, lit(25L)) === 0 && id > 0
    val near = pmod(id, lit(7L)) === 0 && id > 0
    val docs = ids("documents").withColumn("own", body)
      .withColumn("prev", lag(col("own"), 1).over(
        org.apache.spark.sql.expressions.Window.orderBy(id)))
      .select(id.as("doc_id"),
        when(src, col("prev")).when(near, concat(col("prev"), lit(" dup")))
          .otherwise(col("own")).as("text"),
        oneOf(Seq("en", "en", "en", "de", "es", "fr", "zh"), 33, id).as("lang"),
        concat(lit("src"), pick(34, 20, id)).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    save("documents", docs)
    // embeddings: 64-dim unit vectors around ten label centroids
    val dims = sequence(lit(0), lit(63))
    val label = pick(35, 10, id)
    val raw = transform(dims, j =>
      (unit(36, label, j) - 0.5) + (unit(37, id, j) - 0.5) * 0.6)
    save("embeddings", ids("embeddings")
      .select(id.as("vec_id"), raw.as("raw"), label.cast("int").as("label"))
      .select(col("vec_id"),
        transform(col("raw"), x => (x / sqrt(aggregate(col("raw"), lit(0.0),
          (acc, y) => acc + y * y))).cast("float")).as("embedding"),
        col("label")))
  }
}
