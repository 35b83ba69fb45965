package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.{Mentions, SaltedAgg, Triples}

class MentionTripleSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  def dict(rows: (String, String, Boolean, Long)*) = {
    import spark.implicits._
    rows.toSeq.toDF("surface", "id", "is_prop", "weight")
      .withColumn("kind", org.apache.spark.sql.functions.lit(0))
  }

  def turns(rows: (String, Int, String)*) = {
    import spark.implicits._
    rows.toSeq.toDF("conv_id", "turn_idx", "text")
  }

  test("longest-match dominance: bigram beats contained unigrams") {
    val d = dict(
      ("new york", "Q60", false, 100L),
      ("york", "Q100", false, 10L),
      ("new", "Q200", false, 5L))
    val t = turns(("c1", 0, "i love new york a lot"))
    val got = Mentions.detect(t, d)
      .collect().map(r => (r.getAs[Int]("span_start"), r.getAs[Int]("span_end"),
        r.getAs[String]("id"))).toSet
    assert(got == Set((2, 4, "Q60")))
  }

  test("non-overlapping matches all survive; property+entity spans coexist") {
    val d = dict(
      ("paris", "Q90", false, 50L),
      ("borders", "P47", true, 20L),
      ("berlin", "Q64", false, 40L))
    val t = turns(("c1", 0, "paris borders berlin today"))
    val got = Mentions.detect(t, d)
      .collect().map(r => (r.getAs[String]("id"), r.getAs[Boolean]("is_prop"))).toSet
    assert(got == Set(("Q90", false), ("P47", true), ("Q64", false)))
  }

  test("triple extraction: subj before pred (with previous-turn fallback), obj after in same turn") {
    val d = dict(
      ("paris", "Q90", false, 50L),
      ("borders", "P47", true, 20L),
      ("berlin", "Q64", false, 40L),
      ("tokyo", "Q1490", false, 30L))
    val t = turns(
      ("c1", 0, "paris borders berlin"),
      ("c1", 1, "it also borders tokyo"), // subj falls back to last entity: berlin
      ("c1", 2, "borders tokyo"), // subj = tokyo (turn 1), obj = tokyo
      ("c2", 0, "borders paris")) // no previous entity → no triple
    val mentions = Mentions.detect(t, d)
    val got = Triples.extract(mentions)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getAs[String]("conv_id"), r.getAs[Int]("turn_idx"))).toSet
    assert(got == Set(
      ("Q90", "P47", "Q64", "c1", 0),
      ("Q64", "P47", "Q1490", "c1", 1),
      ("Q1490", "P47", "Q1490", "c1", 2)))
  }

  test("extractBucketed (single-pass walk) == extract (windows) on synth mentions") {
    val ents = graft.synth.Synth.entityDump(spark, 200)
    val props = graft.synth.Synth.propertyDump(spark, 20)
    val dict = graft.pipeline.KgPipeline.dictionary(
      graft.index.EntityIndexBuilder.build(ents), ents,
      graft.index.PropertyIndexBuilder.build(props), props)
    val mentions = Mentions.detectFast(
      graft.synth.Synth.transcripts(spark, 30, 6, 200, 20), dict)
    def c(df: org.apache.spark.sql.DataFrame) = df
      .selectExpr("subj", "pred", "obj", "conv_id", "turn_idx", "round(score, 6) AS s")
      .collect().map(_.toString).sorted.toSeq
    val a = c(Triples.extract(mentions))
    val b = c(Triples.extractBucketed(mentions))
    assert(a == b)
    assert(a.nonEmpty)
  }

  test("salted aggregation == plain aggregation (skewed keys)") {
    import spark.implicits._
    val rows = (1 to 2000).map { i =>
      val id = if (i % 3 == 0) "HEAD" else s"Q${i % 50}"
      (id, i.toDouble / 10, s"c${i % 97}", i % 20, i % 7)
    }
    val df = rows.toDF("id", "score", "conv_id", "turn_idx", "span_start")
    val salted = SaltedAgg.linkScores(df, saltN = 8)
      .collect().map(r => (r.getString(0), r.getLong(1), math.round(r.getDouble(2) * 1000)))
      .toSet
    val plain = df.groupBy("id")
      .agg(org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("n"),
        org.apache.spark.sql.functions.sum("score").as("s"))
      .collect().map(r => (r.getString(0), r.getLong(1), math.round(r.getDouble(2) * 1000)))
      .toSet
    assert(salted == plain)
  }

  test("link-score salt gates on HEAD DEGREE; forced saltN is authoritative") {
    import spark.implicits._
    val rows = (1 to 2000).map { i =>
      val id = if (i % 3 == 0) "HEAD" else s"Q${i % 50}"
      (id, i.toDouble / 10, s"c${i % 97}", i % 20, i % 7)
    }
    val df = rows.toDF("id", "score", "conv_id", "turn_idx", "span_start")
    def exchanges(out: org.apache.spark.sql.DataFrame): Int = {
      out.collect() // AQE finalizes the plan on execution
      // count the FINAL adaptive plan only (the rendering repeats every
      // Exchange in its "Initial Plan" section)
      out.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
        .split("\n").count(_.contains("Exchange hashpartitioning"))
    }
    // AUTO + sub-threshold head degree → the salt degenerates: ONE exchange
    val gated = SaltedAgg.linkScores(df, maxDegreeHint = Some(4000L))
    assert(exchanges(gated) == 1, "gated-off salt must be single-phase")
    // AUTO + a Zipf-head degree → the two-phase salted shape engages
    val engaged = SaltedAgg.linkScores(df, maxDegreeHint = Some(5000000L))
    assert(exchanges(engaged) == 2, "head-degree hint must engage the salt")
    assert(exchanges(SaltedAgg.linkScores(df)) == 2,
      "no hint stays conservatively salted")
    // a caller-FORCED saltN is authoritative: the hint never overrides it
    // (the round-4 gate silently disabled an explicit fan-out — ADVICE r04)
    assert(exchanges(SaltedAgg.linkScores(df, saltN = 8,
      maxDegreeHint = Some(4L))) == 2, "forced saltN must win over the hint")
    // both physical shapes, same result
    def res(out: org.apache.spark.sql.DataFrame) = out.collect()
      .map(r => (r.getString(0), r.getLong(1), math.round(r.getDouble(2) * 1000))).toSet
    assert(res(gated) == res(engaged))
  }

  test("detectFast (broadcast trie scan) == detect (Catalyst) on synth corpus") {
    val spark2 = spark
    val ents = graft.synth.Synth.entityDump(spark2, 300)
    val props = graft.synth.Synth.propertyDump(spark2, 30)
    val ei = graft.index.EntityIndexBuilder.build(ents)
    val pi = graft.index.PropertyIndexBuilder.build(props)
    val dict = graft.pipeline.KgPipeline.dictionary(ei, ents, pi, props)
    val turns = graft.synth.Synth.transcripts(spark2, 40, 6, 300, 30)
    def collectM(df: org.apache.spark.sql.DataFrame) =
      df.select("conv_id", "turn_idx", "span_start", "span_end", "surface", "id",
        "kind", "is_prop", "score")
        .collect().map(_.toString).toSet
    val a = collectM(Mentions.detect(turns, dict))
    val b = collectM(Mentions.detectFast(turns, dict))
    assert(a == b, s"only-catalyst=${(a -- b).take(5)} only-fast=${(b -- a).take(5)}")
    assert(a.nonEmpty)
  }

  test("dictionary-size guard: shuffle-join path == broadcast trie path") {
    val ents = graft.synth.Synth.entityDump(spark, 250)
    val props = graft.synth.Synth.propertyDump(spark, 25)
    val dict = graft.pipeline.KgPipeline.dictionary(
      graft.index.EntityIndexBuilder.build(ents), ents,
      graft.index.PropertyIndexBuilder.build(props), props)
    val turns = graft.synth.Synth.transcripts(spark, 25, 5, 250, 25)
    def collectM(df: org.apache.spark.sql.DataFrame) =
      df.select("conv_id", "turn_idx", "span_start", "span_end", "surface", "id",
        "kind", "is_prop", "score")
        .collect().map(_.toString).toSet
    // force the guard BOTH ways: threshold 0 → shuffle join, huge → trie scan
    def routed(broadcastMaxRows: Long) = {
      val scope = new CacheScope
      try collectM(Mentions.detectRouted(turns, dict, scope, 4, broadcastMaxRows, None, 0))
      finally scope.close()
    }
    val viaShuffle = routed(0L)
    val viaTrie = routed(Long.MaxValue)
    assert(viaShuffle == viaTrie,
      s"only-shuffle=${(viaShuffle -- viaTrie).take(5)} only-trie=${(viaTrie -- viaShuffle).take(5)}")
    assert(viaTrie.nonEmpty)
  }

  test("NULL, empty and whitespace-only text: no matches on every detection path") {
    val d = dict(
      ("paris", "Q90", false, 50L),
      ("borders", "P47", true, 20L),
      ("berlin", "Q64", false, 40L))
    val t = turns(
      ("c1", 0, null), ("c1", 1, ""), ("c1", 2, "   "), ("c1", 3, "\t \n"),
      ("c2", 0, "paris borders berlin"))
    def spans(df: org.apache.spark.sql.DataFrame) =
      df.select("conv_id", "turn_idx", "span_start", "span_end", "id")
        .collect().map(_.toString).toSet
    val reference = spans(Mentions.detect(t, d))
    assert(reference == Set("[c2,0,0,1,Q90]", "[c2,0,1,2,P47]", "[c2,0,2,3,Q64]"))
    assert(spans(Mentions.detect(t, d, broadcastDict = false)) == reference)
    assert(spans(Mentions.detectFast(t, d)) == reference)
    assert(spans(Mentions.detectRouted(t, d, new CacheScope, 4, 20000000L, Some(3L),
      buckets = 4)) == reference)
  }

  test("detect join form through a scope leaves no cached blocks after close") {
    val d = dict(
      ("paris", "Q90", false, 50L),
      ("borders", "P47", true, 20L),
      ("berlin", "Q64", false, 40L))
    // a plan of its own: the scope claims only what it cached, and an
    // earlier scope-less detect over the same turns leaves its cache behind
    val t = turns(("c-scope", 0, "paris borders berlin today"))
    CacheChecks.assertReleased {
      val scope = new CacheScope
      assert(Mentions.detect(t, d, scope, 4, broadcastDict = true).count() == 3)
      CacheChecks.closeReleased(scope)
    }
  }

  test("detectRouted with a row-count hint runs no dictionary count job") {
    val d = dict(("paris", "Q90", false, 50L))
    val t = turns(("c1", 0, "paris is nice"))
    // hint below the broadcast bound → trie path, zero extra jobs over dict
    val s1 = new CacheScope
    val fast = Mentions.detectRouted(t, d, s1, 4, 20000000L, Some(1L), 0)
    assert(s1.claimed.isEmpty && fast.count() == 1)
    // hint above the bound → shuffle join, its cache claimed for release
    val s2 = new CacheScope
    val slow = Mentions.detectRouted(t, d, s2, 4, 0L, Some(1L), 0)
    assert(slow.count() == 1)
    CacheChecks.closeReleased(s2)
  }

  test("co-reference edges link distinct ids sharing a base surface") {
    import spark.implicits._
    val mentions = Seq(
      // conversation c1 mentions the plain and the disambiguated entity
      ("c1", 0, 0, 1, "springfield", "Q1", 0, false, 1.0, "springfield"),
      ("c1", 1, 0, 2, "springfield (illinois)", "Q2", 1, false, 1.0, "springfield"),
      ("c1", 1, 3, 4, "rome", "Q9", 0, false, 1.0, "rome"),
      // same base in another conversation — separate group, single id → no edge
      ("c2", 0, 0, 1, "springfield", "Q1", 0, false, 1.0, "springfield"),
      // property mentions never produce co-reference edges
      ("c1", 2, 0, 1, "springfield", "P5", 0, true, 1.0, "springfield"))
      .toDF("conv_id", "turn_idx", "span_start", "span_end", "surface", "id",
        "kind", "is_prop", "score", "base")
    val redirects = Seq(("Q7", Seq("Q8"))).toDF("qid", "redirects")
    val got = graft.pipeline.KgPipeline.coreferenceEdges(mentions, redirects)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(got == Set(("Q7", "Q8"), ("Q2", "Q1")))
  }

  test("rendered surface collisions resolve by kind priority") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // same rendered surface "apple (fruit)": a LabelInfo entry and an
    // AliasInfo entry → Label wins
    val idx = Seq(
      ("apple", Some("fruit"), "Q1", 1),
      ("apple", Some("fruit2"), "Q3", 1),
      ("apple (fruit)", None: Option[String], "Q2", 3))
      .toDF("surface", "info", "id", "kind")
    val got = Mentions.renderSurfaces(idx, isProp = false)
      .select("surface", "id", "base")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(got == Set(("apple (fruit)", "Q1", "apple"), ("apple (fruit2)", "Q3", "apple")))
  }

  test("richLabels synth: near-unique labels still round-trip scan -> triples") {
    val n = 2000L
    // 2-token vocab collapses onto <= 1,073 labels at n=2000; the rich
    // 4-token vocab must keep label cardinality near n (birthday-rate
    // collisions only)
    val rich = graft.synth.Synth.entityDump(spark, n, richLabels = true)
    val flat = graft.synth.Synth.entityDump(spark, n)
    val richDistinct = rich.select("label").distinct().count()
    val flatDistinct = flat.select("label").distinct().count()
    assert(flatDistinct <= 1073L)
    assert(richDistinct > n * 9 / 10, s"rich labels collapsed: $richDistinct of $n")
    // and the 4-token surfaces still match end-to-end: dictionary built from
    // the rich dump finds the planted surfaces in rich transcripts (maxN=4)
    val props = graft.synth.Synth.propertyDump(spark, 20)
    val dict = graft.pipeline.KgPipeline.dictionary(
      graft.index.EntityIndexBuilder.build(rich), rich,
      graft.index.PropertyIndexBuilder.build(props), props)
    val turns = graft.synth.Synth.transcripts(spark, 30, 6, n, 20, richLabels = true)
    val triples = Triples.extractBucketed(Mentions.detectFast(turns, dict))
    assert(triples.count() > 0)
  }

  // ---- the trie path's packed per-turn row: (span_start, span_end,
  // ---- payload) triples of one turn in one int array, expanded after the
  // ---- exchange

  /** The trie path both ways: unclustered, and clustered as the bucketed
    * mentions stage runs it.
    */
  private def triePaths(t: org.apache.spark.sql.DataFrame,
      d: org.apache.spark.sql.DataFrame): Seq[org.apache.spark.sql.DataFrame] =
    Seq(Mentions.detectFast(t, d),
      Mentions.detectRouted(t, d, new CacheScope, 4, Long.MaxValue, Some(1L), buckets = 3))

  private def spanSet(df: org.apache.spark.sql.DataFrame) =
    df.select("conv_id", "turn_idx", "span_start", "span_end", "id")
      .collect().map(_.toString).toSet

  test("packed row: a match past token 65,535 of a 70k-token turn keeps its spans") {
    val d = dict(("paris", "Q90", false, 50L), ("borders", "P47", true, 20L),
      ("new york", "Q60", false, 100L))
    val long = (Seq.fill(65540)("x") ++ Seq("paris", "y", "new", "york") ++
      Seq.fill(4460)("z") ++ Seq("borders")).mkString(" ")
    val t = turns(("c1", 0, long), ("c1", 1, "paris"))
    val expected = Set("[c1,0,65540,65541,Q90]", "[c1,0,65542,65544,Q60]",
      "[c1,0,70004,70005,P47]", "[c1,1,0,1,Q90]")
    triePaths(t, d).foreach(df => assert(spanSet(df) == expected))
  }

  test("packed row: several dominance survivors of overlapping candidates in one turn") {
    val d = dict(("new york", "Q60", false, 100L), ("york city", "Q61", false, 90L),
      ("new", "Q1", false, 1L), ("york", "Q2", false, 1L), ("city", "Q3", false, 1L),
      ("big apple", "Q4", false, 10L), ("apple", "Q5", false, 1L))
    // candidates overlap pairwise; new york beats the equally long york city
    // by its earlier start, york city still removes the contained city
    val t = turns(("c1", 0, "i saw new york city and a big apple in new york"))
    val expected = Set("[c1,0,2,4,Q60]", "[c1,0,7,9,Q4]", "[c1,0,10,12,Q60]")
    assert(spanSet(Mentions.detect(t, d)) == expected)
    triePaths(t, d).foreach(df => assert(spanSet(df) == expected))
  }

  test("packed row: zero-match, NULL and whitespace-only turns share a partition") {
    val d = dict(("paris", "Q90", false, 50L), ("borders", "P47", true, 20L),
      ("berlin", "Q64", false, 40L))
    val t = turns(("c1", 0, null), ("c1", 1, "   "), ("c1", 2, "nothing matches here"),
      ("c1", 3, "paris"), ("c2", 0, ""), ("c2", 1, "berlin borders paris"),
      ("c2", 2, "\t\n"), ("c3", 0, "no match")).coalesce(1)
    val expected = Set("[c1,3,0,1,Q90]", "[c2,1,0,1,Q64]", "[c2,1,1,2,P47]",
      "[c2,1,2,3,Q90]")
    assert(spanSet(Mentions.detect(t, d)) == expected)
    triePaths(t, d).foreach(df => assert(spanSet(df) == expected))
  }

  test("packed row: the ts pass-through column rides with every mention of its turn") {
    import spark.implicits._
    val d = dict(("paris", "Q90", false, 50L), ("berlin", "Q64", false, 40L))
    val t = Seq(("c1", 0, "paris and berlin", new java.sql.Timestamp(1000L)),
      ("c1", 1, "nothing", new java.sql.Timestamp(2000L)),
      ("c2", 0, "berlin", new java.sql.Timestamp(3000L)))
      .toDF("conv_id", "turn_idx", "text", "ts")
    for (buckets <- Seq(0, 2)) {
      val out = Mentions.detectTrie(t, d, passThrough = Seq("ts"), buckets = buckets)
      assert(out.columns.last == "ts")
      assert(out.select("conv_id", "turn_idx", "span_start", "id", "ts").collect()
        .map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getString(3),
          r.getTimestamp(4).getTime)).toSet ==
        Set(("c1", 0, 0, "Q90", 1000L), ("c1", 0, 2, "Q64", 1000L), ("c2", 0, 0, "Q64", 3000L)))
    }
  }

  test("executor trie cache holds at most two tries, least recently used evicted first") {
    val rows = Mentions.DictRows(Array("paris"), Array("Q90"), Array(0), Array(false),
      Array(1.0), Array("paris"))
    // negative ids: no broadcast of this JVM can hold them
    val Seq(a, b, c) = Seq(-101L, -102L, -103L)
    def cached(id: Long) = Mentions.SurfaceTrie.of(id, fail(s"trie $id rebuilt"))
    val ta = Mentions.SurfaceTrie.of(a, rows)
    val tb = Mentions.SurfaceTrie.of(b, rows)
    // a cached id returns the same instance without rebuilding
    assert(cached(a) eq ta)
    val tc = Mentions.SurfaceTrie.of(c, rows)
    assert((cached(c) eq tc) && (cached(a) eq ta))
    // b was the least recently used: evicted, so it is built anew, which
    // evicts c in turn
    val tb2 = Mentions.SurfaceTrie.of(b, rows)
    assert(tb2 ne tb)
    assert((cached(a) eq ta) && (cached(b) eq tb2))
    assert(Mentions.SurfaceTrie.of(c, rows) ne tc)
  }
}
