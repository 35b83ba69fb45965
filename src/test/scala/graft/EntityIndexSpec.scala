package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.index.{EntityIndexBuilder, EntityIndexConfig}
import graft.model.{IndexEntry, RawEntity}
import graft.oracle.ReferenceOracle

/** Distributed cascade == in-process transcription of the Rust loops, on
  * generated dumps planted with every hazard the reference exercises:
  * label collisions, alias/label overlaps, popular-alias overrides, count
  * ties, dangling types, duplicate aliases within one entity, empty descs.
  */
class EntityIndexSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  def runSpark(rows: Seq[RawEntity], cfg: EntityIndexConfig): Set[IndexEntry] = {
    import spark.implicits._
    val df = EntityIndexBuilder.build(rows.toDF(), cfg)
    df.collect().map { r =>
      IndexEntry(r.getString(0), Option(r.getString(1)), r.getString(2), r.getInt(3))
    }.toSet
  }

  def oracleCfg(cfg: EntityIndexConfig): ReferenceOracle.Config =
    ReferenceOracle.Config(cfg.ignoreTypes, cfg.keepMostCommonNonUnique,
      cfg.checkForPopularAliases)

  val genEntities: Gen[Seq[RawEntity]] = for {
    n <- Gen.choose(1, 40)
    rows <- Gen.sequence[Seq[RawEntity], RawEntity]((0 until n).map { i =>
      for {
        label <- Gen.oneOf((0 until 8).map(j => s"L$j"))
        desc <- Gen.oneOf("", "d0", "d1", "d2")
        count <- Gen.choose(0L, 12L)
        nTypes <- Gen.choose(0, 2)
        types <- Gen.listOfN(nTypes, Gen.choose(1, n + 5).map(k => s"Q$k"))
        nAliases <- Gen.choose(0, 3)
        aliases0 <- Gen.listOfN(nAliases,
          Gen.oneOf((0 until 10).map(j => s"a$j") ++ (0 until 8).map(j => s"L$j")))
        dup <- Gen.oneOf(true, false)
      } yield {
        val aliases = if (dup && aliases0.nonEmpty) aliases0 :+ aliases0.head else aliases0
        RawEntity(s"Q${i + 1}", label, desc, count, types, aliases, i.toLong)
      }
    })
  } yield rows

  def sample[T](gen: Gen[T], seed: Long): T =
    gen(Gen.Parameters.default, Seed(seed)).get

  val configs = Seq(
    EntityIndexConfig(ignoreTypes = false, keepMostCommonNonUnique = true, checkForPopularAliases = true),
    EntityIndexConfig(ignoreTypes = true, keepMostCommonNonUnique = true, checkForPopularAliases = false),
    EntityIndexConfig(ignoreTypes = false, keepMostCommonNonUnique = false, checkForPopularAliases = true))

  test("spark cascade == reference oracle (property-based)") {
    for (cfg <- configs; seed <- 1L to 12L) {
      val rows = sample(genEntities, seed * 31 + cfg.hashCode())
      val got = runSpark(rows, cfg)
      val want = ReferenceOracle.entityIndex(rows, oracleCfg(cfg))
      assert(got == want, s"\ncfg=$cfg seed=$seed\nrows=$rows\nonly-spark=${got -- want}\nonly-oracle=${want -- got}")
    }
  }

  test("hand-built: collision + override + info fallback") {
    // Q1/Q2 collide on label "apple"; Q3 holds unique alias "apple" with a
    // higher count than both → override demotes even the E3 fallback.
    val rows = Seq(
      RawEntity("Q1", "apple", "fruit", 5, Nil, Nil, 0),
      RawEntity("Q2", "apple", "company", 8, Nil, Nil, 1),
      RawEntity("Q3", "banana", "fruit", 50, Nil, Seq("apple"), 2))
    val cfg = EntityIndexConfig(ignoreTypes = true)
    val got = runSpark(rows, cfg)
    val want = ReferenceOracle.entityIndex(rows, oracleCfg(cfg))
    assert(got == want)
    // the popular alias claims the plain slot; colliding labels go to info
    assert(got.contains(IndexEntry("apple", None, "Q3", 2)))
    assert(got.contains(IndexEntry("apple", Some("fruit"), "Q1", 1)))
    assert(got.contains(IndexEntry("apple", Some("company"), "Q2", 1)))
    assert(got.contains(IndexEntry("banana", None, "Q3", 0)))
  }

  test("hand-built: type resolution picks most-frequent type label (J2)") {
    val rows = Seq(
      RawEntity("Q1", "city", "", 100, Nil, Nil, 0),
      RawEntity("Q2", "village", "", 10, Nil, Nil, 1),
      // labels collide → info = last type after count-ascending sort
      RawEntity("Q3", "springfield", "place", 5, Seq("Q2", "Q1"), Nil, 2),
      RawEntity("Q4", "springfield", "place", 4, Seq("Q9", "Q2"), Nil, 3),
      // Q5 holds "springfield" as a globally-unique popular alias → the
      // override (J3) keeps BOTH label-info groups off the plain slot
      RawEntity("Q5", "shelbyville", "town", 1000, Nil, Seq("springfield"), 4))
    val cfg = EntityIndexConfig()
    val got = runSpark(rows, cfg)
    assert(got == ReferenceOracle.entityIndex(rows, oracleCfg(cfg)))
    // Q3: types sorted by count asc → [village(10), city(100)] → info "city";
    // Q4: dangling Q9 dropped → info "village"; Q5's alias takes the plain slot
    assert(got.contains(IndexEntry("springfield", Some("city"), "Q3", 1)))
    assert(got.contains(IndexEntry("springfield", Some("village"), "Q4", 1)))
    assert(got.contains(IndexEntry("springfield", None, "Q5", 2)))
  }

  test("r6 internals: input persist gated on fan-out; e34 shares one label exchange") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_COL, ShuffleExchangeExec}
    import org.apache.spark.sql.execution.window.WindowExec
    object H extends AdaptiveSparkPlanHelper
    val dump = sample(genEntities, 7L).toDF()
    // the pipeline path forces the cache (dump read 5+ times) and closing
    // the scope releases it
    CacheChecks.assertReleased {
      val scope = new CacheScope
      EntityIndexBuilder.build(dump, scope, EntityIndexConfig(), persistInput = true).count()
      assert(dump.storageLevel.useMemory, "persistInput=true must cache the dump")
      CacheChecks.closeReleased(scope)
      assert(!dump.storageLevel.useMemory, "closing the scope must release the dump cache")
    }
    CacheChecks.assertReleased {
      val cfg = EntityIndexConfig(ignoreTypes = true)
      val scope = new CacheScope
      val idx = EntityIndexBuilder.build(dump, scope, cfg, persistInput = false)
      // ignoreTypes reads the dump exactly twice (withInfo is a projection) —
      // the default build must NOT cache it (two pruned scans beat a
      // full-width cache)
      EntityIndexBuilder.build(dump, cfg)
      assert(!dump.storageLevel.useMemory, "ignoreTypes build must not cache the input dump")
      // e34 carries the shared-exchange shape: the group aggregate sits on an
      // explicit label repartition (whose partitioning also satisfies the O1
      // window), so the optimizer plans no second exchange for the window.
      // It is the cache whose own plan holds the label-partitioned O1 window.
      def isO1(p: org.apache.spark.sql.execution.SparkPlan) = p match {
        case w: WindowExec =>
          w.partitionSpec.flatMap(_.references.map(_.name)) == Seq("label") &&
            w.orderSpec.exists(_.child.references.exists(_.name == "g_max"))
        case _ => false
      }
      val e34 = idx.queryExecution.optimizedPlan
        .collect { case r: InMemoryRelation => r.cachedPlan }.distinct
        .filter(H.find(_)(isO1).isDefined)
      assert(e34.length == 1, s"one cache must hold the O1 window:\n${idx.queryExecution.optimizedPlan}")
      // exactly one exchange in e34's OWN stage (the cand cache below it is
      // a leaf scan): the explicit label repartition, shared by the group
      // aggregate and the O1 window
      val exchanges = H.collect(e34.head) { case e: ShuffleExchangeExec => e }
      assert(exchanges.length == 1,
        s"e34 must plan exactly one hash exchange (shared by aggregate and window), got ${exchanges.length}:\n${e34.head}")
      val keys = exchanges.head.outputPartitioning match {
        case h: HashPartitioning => h.expressions.flatMap(_.references.map(_.name))
        case _ => Nil
      }
      assert(exchanges.head.shuffleOrigin == REPARTITION_BY_COL && keys == Seq("label"),
        s"the one exchange must be the explicit label repartition:\n${exchanges.head}")
      idx.count()
      CacheChecks.closeReleased(scope)
    }
  }

  test("build handles never release a cache the caller owns") {
    import spark.implicits._
    // the caller persisted the dump; neither the gated default nor a forced
    // persistInput may hand it back as a handle to release
    val dump = sample(genEntities, 11L).toDF().persist()
    try {
      for ((cfg, forced) <- Seq(
          (EntityIndexConfig(ignoreTypes = true), false),
          (EntityIndexConfig(), true))) {
        val (idx, handles) = EntityIndexBuilder.buildTracked(dump, cfg, forced)
        idx.count()
        handles.foreach(_.unpersist(blocking = true))
        assert(dump.storageLevel.useMemory,
          s"caller-persisted input released by the handles (persistInput=$forced)")
      }
    } finally dump.unpersist(blocking = true)
  }

  test("E6 invariant: at most one primary (kind<=1) surface per entity") {
    for (seed <- 1L to 20L) {
      val rows = sample(genEntities, 7000 + seed)
      val idx = ReferenceOracle.entityIndex(rows, ReferenceOracle.Config())
      assert(idx.groupBy(_.id).forall(_._2.count(_.kind <= 1) <= 1))
    }
  }
}
