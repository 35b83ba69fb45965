package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.CacheChecks.{assertReleased, checkpointedPlan, closeReleased}
import graft.ops.{Dedup, Multimodal, Similarity, TextAnalysis}

/** In-engine verification for the ops without SQL oracles: LSH variants are
  * checked against exact brute force (precision exact by construction — both
  * verify candidates — recall bounded below), ANN-IVF against brute-force
  * top-k, multimodal plumbing for shape + determinism.
  */
class OpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  def docs(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toSeq.toDF("doc_id", "text")
  }

  // deterministic corpus: 30 base docs + planted near-identical variants
  lazy val corpus = {
    val words = Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta",
      "theta", "iota", "kappa", "lambda", "mu", "nu", "xi", "omicron", "pi")
    val base = (0L until 30L).map { i =>
      val toks = (0 until 12).map(j => words(((i * 7 + j * 3 + j * j) % words.size).toInt))
      (i, toks.mkString(" "))
    }
    val nearDups = base.take(8).map { case (i, t) =>
      (i + 100, t.split(" ").dropRight(1).mkString(" ") + " omega")
    }
    docs((base ++ nearDups): _*)
  }

  def bruteJaccard(thresholdPct: Int): Set[(Long, Long)] = {
    val rows = corpus.collect().map(r => (r.getLong(0), r.getString(1).split("\\s+").toSet))
    (for {
      (a, ta) <- rows; (b, tb) <- rows if a < b
      inter = (ta intersect tb).size; uni = (ta union tb).size
      if inter * 100 >= thresholdPct * uni
    } yield (a, b)).toSet
  }

  test("minhash-LSH pairs: exact precision, high recall vs brute force") {
    val got = Dedup.minhashLshPairs(corpus, "doc_id", "text",
        numHashes = 32, bands = 8, thresholdPct = 70)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = bruteJaccard(70)
    assert(want.nonEmpty, "corpus must contain planted near-dups")
    assert((got -- want).isEmpty, s"LSH emitted non-dups: ${got -- want}") // exact verify step
    val recall = (got intersect want).size.toDouble / want.size
    assert(recall >= 0.8, s"recall=$recall got=$got want=$want")
  }

  test("jaccard inverted-index pairs == brute force") {
    val gotAb = Dedup.jaccardPairs(corpus, "doc_id", "text", 70, 1000L)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gotAb == bruteJaccard(70))
  }

  test("simhash pairs == ALL pairs at hamming <= chunks-1 (pigeonhole exact)") {
    // the operator guarantees: candidates ⊇ every pair with hamming ≤
    // chunks-1 (a shared chunk is forced), and the verify step filters to
    // maxHamming — so with maxHamming = chunks-1 the result is EXACT.
    import spark.implicits._
    val bits = corpus
      .select(col("doc_id"), Dedup.simhashBits(
        array_distinct(filter(split(col("text"), "\\s+"), t => length(t) > 0))).as("b"))
      .collect().map(r => (r.getLong(0), r.getSeq[Int](1)))
    val want = (for {
      (a, ba) <- bits; (b, bb) <- bits if a < b
      ham = ba.zip(bb).count(p => p._1 != p._2)
      if ham <= 3
    } yield (a, b)).toSet
    val got = Dedup.simhashPairs(corpus, "doc_id", "text", maxHamming = 3, chunks = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want, s"only-got=${got -- want} only-want=${want -- got}")
    assert(want.nonEmpty, "corpus should contain simhash-close pairs")
  }

  test("exact dedup groups identical texts") {
    val d = docs((1L, "x y z"), (2L, "x y z"), (3L, "other"))
    val got = Dedup.exact(d, "doc_id", "text")
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((1L, 2L), (3L, 1L)))
  }

  lazy val vecs = {
    import spark.implicits._
    // deterministic clustered vectors: 4 clusters in 8 dims + noise
    (0L until 60L).map { i =>
      val c = (i % 4).toInt
      val v = Array.tabulate(8) { d =>
        val base = if (d == c * 2) 1.0f else 0.0f
        base + 0.05f * (((i * 31 + d * 17) % 11) - 5)
      }
      (i, v)
    }.toDF("vec_id", "embedding")
  }

  test("IVF ANN recall vs brute-force top-k") {
    val brute = Similarity.bruteForceTopK(vecs, "vec_id", "embedding", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(vecs, "vec_id", "embedding", k = 3,
        nCentroids = 8, nProbe = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (ivf intersect brute).size.toDouble / brute.size
    assert(recall >= 0.6, s"IVF recall=$recall")
  }

  /** 10× corpus: trained √N centroids must hold recall with bounded buckets. */
  lazy val vecs10x = {
    import spark.implicits._
    (0L until 600L).map { i =>
      val c = (i % 4).toInt
      val v = Array.tabulate(8) { d =>
        val base = if (d == c * 2) 1.0f else 0.0f
        base + 0.05f * (((i * 31 + d * 17) % 11) - 5)
      }
      (i, v)
    }.toDF("vec_id", "embedding")
  }

  test("IVF at 10x corpus: trained sqrt(N) centroids, recall holds, buckets bounded") {
    val brute = Similarity.bruteForceTopK(vecs10x, "vec_id", "embedding", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // nCentroids = 0 → ceil(sqrt(600)) = 25 trained centroids
    val ivf = Similarity.ivfTopK(vecs10x, "vec_id", "embedding", k = 3, nProbe = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (ivf intersect brute).size.toDouble / brute.size
    info(f"IVF 10x recall=$recall%.3f (n=600, 25 trained centroids, nProbe=3)")
    assert(recall >= 0.6, s"IVF 10x recall=$recall")
    // bucket boundedness: with 4 planted clusters and 25 centroids each
    // nProbe-assignment bucket must stay well under the corpus size —
    // candidate pair fan-out is sum(bucket²), the quantity the √N sizing caps
    val probed = Similarity.ivfTopK(vecs10x, "vec_id", "embedding", k = 600, nProbe = 3)
      .groupBy("vec_id").count().collect().map(_.getLong(1))
    val maxCands = probed.max
    info(s"max candidate set per vector = $maxCands of 599 possible")
    assert(maxCands < 599, "IVF must not degenerate into all-pairs")
  }

  test("IVF: planted giant bucket — mean centroids keep s2 in Long range") {
    import spark.implicits._
    // 800 identical vectors with coordinate 2000.0 (q = 2e6 at the default
    // quantScale): the round-3 SUM centroid would carry per-dimension sums
    // of 800·2e6 = 1.6e9 and s2 = 4·(1.6e9)² ≈ 1.02e19 — past Long.MaxValue
    // (9.22e18), flipping s2 negative (VERDICT r03 #3). The truncated-mean
    // centroid keeps each component at 2e6 and s2 = 4·(2e6)² = 1.6e13.
    val big = (0L until 800L).map(i => (i, Array.fill(4)(2000.0f)))
    val small = (1000L until 1008L).map(i =>
      (i, Array(-1.0f, 2.0f, (i % 3).toFloat, 1.0f)))
    val giant = (big ++ small).toDF("vec_id", "embedding")
    val rank1 = Similarity.ivfTopK(giant, "vec_id", "embedding", k = 1, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // every giant-bucket member's exact top-1 is its lowest-id twin
    // (cosine exactly 1.0, ties by neighbor id) — wrong or dropped centroids
    // would lose the bucket and these neighbors with it
    (0L until 800L).foreach { i =>
      val want = if (i == 0L) 1L else 0L
      assert(rank1.get(i).contains(want), s"vec $i: ${rank1.get(i)} != $want")
    }
  }

  test("embedding near-dups via sign-LSH: precision exact (integer verify)") {
    val got = Similarity.embeddingNearDups(vecs, "vec_id", "embedding",
        thresholdPct = 95, nPlanes = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // recompute the integer threshold test from the raw vectors: every
    // emitted pair must pass it (precision exact by construction)
    val qs = vecs.collect().map { r =>
      r.getLong(0) -> r.getSeq[Float](1).map(x => math.floor(x.toDouble * 1000).toLong).toArray
    }.toMap
    def n2(q: Array[Long]) = q.map(x => x * x).sum
    got.foreach { case (a, b) =>
      val dot = qs(a).zip(qs(b)).map(p => p._1 * p._2).sum
      assert(dot >= 0 && dot * dot * 10000L >= 95L * 95L * n2(qs(a)) * n2(qs(b)),
        s"pair ($a,$b) fails the integer cosine threshold")
    }
    assert(got.nonEmpty) // same-cluster vectors are >0.95
  }

  test("minhash-LSH: df-cap and bucket cap preserve precision") {
    // maxDf below the corpus size prunes ubiquitous tokens; pairs must still
    // verify exactly on the CAPPED sets (consistent semantics)
    val capped = Dedup.minhashLshPairs(corpus, "doc_id", "text",
        numHashes = 32, bands = 8, thresholdPct = 70, maxDf = 30L, maxBucket = 64L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((capped -- bruteJaccard(60)).isEmpty) // capped sets can only raise jaccard slightly
    // diagnostic path: an absurdly low cap reports dropped buckets
    val sigs = corpus.select(col("doc_id").as("id"),
      Dedup.minhashSig(array_distinct(filter(split(col("text"), "\\s+"),
        t => length(t) > 0)), 32).as("sig"))
    val banded = sigs.select(col("id"),
      posexplode(transform(sequence(lit(0), lit(7)),
        b => element_at(col("sig"), 1))).as(Seq("band", "bhash")))
    val (nb, nr) = Dedup.countOverfullBuckets(banded, Seq("band", "bhash"), 1L)
    assert(nb > 0 && nr > 0)
  }

  test("capped-default wrappers drop a planted hot bucket, keep honest pairs") {
    import spark.implicits._
    // 1100 byte-identical docs: every band bucket holds all 1100 rows —
    // past the default maxBucket=1000, so the wrappers must drop them all.
    // maxDfFraction = 1.0 keeps the df-cap out of the way so the BUCKET cap
    // is what does the dropping. Two genuinely near-dup docs with disjoint
    // vocabulary sit in small buckets and must survive.
    val hot = (0L until 1100L).map(i => (i, "copy pasta boiler plate"))
    // pair differs in one of 21 tokens: jaccard 20/22 ≈ 0.91 (minhash-able)
    // and simhash hamming = 2 with a shared chunk (probed)
    val shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda omicron sigma tau upsilon phi chi psi omega rho"
    val pair = Seq((5000L, s"$shared mu"), (5001L, s"$shared buzz"))
    val df = (hot ++ pair).toDF("doc_id", "text")

    val scope = new CacheScope
    val mh = Dedup.minhashNearDups(df, "doc_id", "text", scope,
      thresholdPct = 60, maxDfFraction = 1.0)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mh == Set((5000L, 5001L)),
      s"hot bucket must drop, honest pair must survive: $mh")
    // control: the raw uncapped operator DOES pair the hot docs
    val uncapped = Dedup.minhashLshPairs(df, "doc_id", "text", thresholdPct = 60)
      .count()
    assert(uncapped > 1100L * 1099 / 2)

    val sh = Dedup.simhashNearDups(df, "doc_id", "text", scope)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sh == Set((5000L, 5001L)), s"simhash capped default: $sh")
    closeReleased(scope)
  }

  test("minhash clusters close transitive near-dup chains (pairs alone don't)") {
    import spark.implicits._
    // A~B and B~C at ~0.82 jaccard, but A~C at 0.67 — BELOW the 80%
    // threshold: the pair operator must NOT link A-C, the cluster operator
    // must still collapse all three into one group (non-transitivity is
    // exactly why production dedup runs components over pairs)
    val base = (1 to 20).map(i => s"tok$i")
    val a = base.mkString(" ")
    val b = (base.drop(2) ++ Seq("bx1", "bx2")).mkString(" ")
    val c = (base.drop(2).dropRight(2) ++ Seq("bx1", "bx2", "cx1", "cx2")).mkString(" ")
    val df = Seq((1L, a), (2L, b), (3L, c),
      (50L, "totally different words entirely")).toDF("doc_id", "text")
    val pairs = Dedup.minhashLshPairs(df, "doc_id", "text", 32, 8, 80)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L), (2L, 3L)), s"chain pairs: $pairs")
    val clusters = Dedup.minhashClusters(df, "doc_id", "text", 32, 8, 80)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(clusters == Map(1L -> 1L, 2L -> 1L, 3L -> 1L),
      s"one cluster with min-id representative: $clusters")
  }

  test("curate: quality gates BEFORE dedup; only non-representatives evicted") {
    import spark.implicits._
    val base = ('a' to 't').map(c => s"word$c")
    val hqA = "the " + base.mkString(" ") // stopword → quality ≥ 900
    val hqB = "the " + (base.drop(2) ++ Seq("x1", "x2")).mkString(" ") // ~83% of A
    val lowDup = base.mkString(" ") // 95% of A but NO stopword → fails the gate
    val df = Seq((10L, hqA), (2L, hqB), (3L, lowDup),
      (7L, "the unrelated totally different things entirely"))
      .toDF("doc_id", "text")
    val out = graft.ops.Curate.curate(df, "doc_id", "text",
        minQualityMilli = 900, thresholdPct = 80)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getString(2)))).toMap
    // doc 3 fails the gate, so despite being doc 10's nearest duplicate AND
    // the would-be min-id representative, it cannot evict anything (dedup
    // runs on gate survivors only); {10, 2} cluster → min id 2 survives
    assert(out.keySet == Set(2L, 7L), s"survivors: $out")
    assert(out.values.forall(v => Set("train", "val", "test")(v._2)))
    // the split is a content hash — identical on recompute
    val again = graft.ops.Curate.curate(df, "doc_id", "text",
        minQualityMilli = 900, thresholdPct = 80)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getString(2)))).toMap
    assert(out == again)
    // the gated quality table is a persisted leaf of the materialized
    // survivor plan (the quality regex scan runs once, not three times),
    // and every cache curate persisted is released
    var got: org.apache.spark.sql.DataFrame = null
    val plan = checkpointedPlan {
      got = assertReleased(graft.ops.Curate.curate(df, "doc_id", "text",
        minQualityMilli = 900, thresholdPct = 80))
    }
    assert(got.collect().map(r => (r.getLong(0), (r.getLong(1), r.getString(2)))).toMap == out)
    assert(plan.collectLeaves().exists(
      _.isInstanceOf[org.apache.spark.sql.execution.columnar.InMemoryRelation]),
      s"the quality cache must back the survivor plan:\n$plan")
  }

  test("scoped near-dup entry points evaluate the signature plan once") {
    val df = corpus
    // minhash: the scoped entry == the capped operator, and the returned
    // plan's leaves are ALL InMemoryRelations — no path in it can re-run the
    // tokenize→sign→band computation (it ran once, in the measurement action
    // that filled the caches)
    val want = Dedup.minhashLshPairs(df, "doc_id", "text", thresholdPct = 70,
        maxDf = 38L, maxBucket = 1000L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assertReleased {
      val scope = new CacheScope
      val mh = Dedup.minhashNearDups(df, "doc_id", "text", scope,
        thresholdPct = 70, maxDfFraction = 1.0, corpusRowsHint = Some(38L))
      assert(mh.collect().map(r => (r.getLong(0), r.getLong(1))).toSet == want)
      val mhLeaves = mh.queryExecution.optimizedPlan.collectLeaves()
      assert(mhLeaves.nonEmpty && mhLeaves.forall(
        _.isInstanceOf[org.apache.spark.sql.execution.columnar.InMemoryRelation]),
        s"every leaf must read the cache:\n${mh.queryExecution.optimizedPlan}")
      // three caches since r6: toks, banded, and the shared bucket-counts
      // table (aggregated once for both the drop-volume probe and the cap
      // semi-join)
      assert(scope.claimed.size == 3 && scope.claimed.forall(_.storageLevel.useMemory))
      closeReleased(scope)
    }

    // simhash twin
    val wantSh = Dedup.simhashPairs(df, "doc_id", "text", maxBucket = 1000L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assertReleased {
      val scope = new CacheScope
      val sh = Dedup.simhashNearDups(df, "doc_id", "text", scope)
      assert(sh.collect().map(r => (r.getLong(0), r.getLong(1))).toSet == wantSh)
      val shLeaves = sh.queryExecution.optimizedPlan.collectLeaves()
      assert(shLeaves.nonEmpty && shLeaves.forall(
        _.isInstanceOf[org.apache.spark.sql.execution.columnar.InMemoryRelation]),
        s"every leaf must read the cache:\n${sh.queryExecution.optimizedPlan}")
      closeReleased(scope)
    }
  }

  test("countOverfullBuckets measures exactly what the cap drops") {
    import spark.implicits._
    val df = ((0L until 20L).map(i => (i, "same same text")) :+
      ((99L, "unique words here"))).toDF("doc_id", "text")
    val banded = Dedup.minhashBands(df, "doc_id", "text", numHashes = 16, bands = 4)
    val (nb, nr) = Dedup.countOverfullBuckets(banded, Seq("band", "bhash"), 10L)
    assert(nb == 4L, s"every band's hot bucket counted: $nb") // 4 bands, 1 hot bucket each
    assert(nr == 80L, s"20 rows x 4 bands: $nr")
  }

  test("clusters entry point: capped defaults + single-eval pairs plan") {
    // capped defaults are a no-op at this corpus size (maxDf = max(100,
    // 38/100) = 100 > any df; no bucket near 1000), so the capped entry
    // point must equal the uncapped composition — while the pairs plan it
    // clusters reads ONLY the persisted signature caches
    val scope = new CacheScope
    val pairs = Dedup.minhashNearDups(corpus, "doc_id", "text", scope, thresholdPct = 70)
    val leaves = pairs.queryExecution.optimizedPlan.collectLeaves()
    assert(leaves.nonEmpty && leaves.forall(
      _.isInstanceOf[org.apache.spark.sql.execution.columnar.InMemoryRelation]),
      s"clusters pairs plan must read the cache:\n${pairs.queryExecution.optimizedPlan}")
    closeReleased(scope)
    val want = graft.pipeline.Canonicalize.connectedComponents(
        Dedup.minhashLshPairs(corpus, "doc_id", "text", thresholdPct = 70)
          .select(col("a").as("u"), col("b").as("v")))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // the entry point releases its own caches (CC's probe/checkpoint has
    // pinned the edge set by then)
    assertReleased {
      val got = Dedup.minhashClusters(corpus, "doc_id", "text", thresholdPct = 70)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(got == want, s"capped-default clusters == uncapped at no-op scale")
    }
  }

  test("clusters/curate: planted hot bucket stays bounded under the caps") {
    import spark.implicits._
    // 1200 copies of the same viral boilerplate: uncapped this is a
    // 1200² ≈ 1.4M-candidate blowup per band; the default df cap
    // (max(100, 1202/100) = 100) removes the viral tokens before signing,
    // so the boilerplate docs never reach the banded self-join at all
    val viral = (0L until 1200L).map(i => (i, "viral boilerplate text shared"))
    val nearDupA = "the unique alpha beta gamma delta epsilon zeta eta theta words"
    val nearDupB = "the unique alpha beta gamma delta epsilon zeta eta iota words"
    val df = (viral ++ Seq((5000L, nearDupA), (5001L, nearDupB)))
      .toDF("doc_id", "text")
    val clusters = Dedup.minhashClusters(df, "doc_id", "text", thresholdPct = 70)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // genuine near-dups (distinctive tokens, df = 2 each) still cluster;
    // the capped path trades recall on viral boilerplate for boundedness
    // (exact-hash dedup is the right operator for identical docs)
    assert(clusters == Map(5000L -> 5000L, 5001L -> 5000L),
      s"near-dups cluster, viral docs stay un-paired: ${clusters.size} rows")
    // curate composes the same capped path: completes bounded, dedups the
    // near-dup pair, keeps every viral doc (gate off to isolate dedup)
    val out = graft.ops.Curate.curate(df, "doc_id", "text",
        minQualityMilli = 0, thresholdPct = 70)
      .collect().map(r => r.getLong(0)).toSet
    assert(out.size == 1201 && out.contains(5000L) && !out.contains(5001L),
      s"curate: ${out.size} survivors")
    // the BUCKET cap is the second rail (signature-identical docs whose
    // tokens survive the df cap): forcing it low on the 20-identical-doc
    // shape drops the hot buckets instead of joining them
    val ident = ((0L until 20L).map(i => (i, "same same text")) :+
      ((99L, "unique words here"))).toDF("doc_id", "text")
    val capped = Dedup.minhashClusters(ident, "doc_id", "text",
      thresholdPct = 70, maxBucket = 10L)
    assert(capped.count() == 0, "over-cap buckets must be dropped, not joined")
  }

  test("multimodal: attach → stubbed decode → frame sampling plumbing") {
    val d = docs((1L, "a" * 100), (2L, "bb"))
    val media = Multimodal.attach(d, "doc_id", "text")
    assert(media.schema("media").dataType.typeName == "binary")
    val feats = Multimodal.decodeFeatures(media).collect().map(f => f.media_id -> f).toMap
    assert(feats(1L).n_bytes == 100 && feats(2L).n_bytes == 2)
    assert(feats(1L).pixel_sum == 97L * 100) // 'a' = 0x61
    // determinism: same input → same fake features
    val again = Multimodal.decodeFeatures(media).collect().map(f => f.media_id -> f).toMap
    assert(feats(1L) == again(1L))
    val frames = Multimodal.sampleFrames(media, frameBytes = 32, stride = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    // doc 1: 100 bytes → frames at 0(32B),2(32B) sampled; idx1,3 skipped
    assert(frames.filter(_._1 == 1L).map(f => (f._2, f._3)).toSet == Set((0, 32), (2, 32)))
  }

  test("multimodal: PGM render → REAL header-parsing codec round-trip") {
    val d = docs((1L, "a" * 100), (2L, "bb"), (3L, ""))
    val media = Multimodal.attachPgm(d, "doc_id", "text")
    val feats = Multimodal.decodeFeatures(media, Multimodal.PgmCodec)
      .collect().map(f => f.media_id -> f).toMap
    // 100 bytes → w = 100%16+1 = 5, h = ceil(100/5) = 20, no padding
    assert(feats(1L).width == 5 && feats(1L).height == 20)
    assert(feats(1L).pixel_sum == 97L * 100)
    assert(feats(1L).mean_milli == 97L * 100 * 1000 / 100)
    // 2 bytes → w = 3, h = 1, one NUL pad byte (contributes 0 to the sum)
    assert(feats(2L).width == 3 && feats(2L).height == 1)
    assert(feats(2L).pixel_sum == 2L * 98)
    // empty text → 1x1 all-pad image, sum 0
    assert(feats(3L).width == 1 && feats(3L).height == 1 && feats(3L).pixel_sum == 0)
    // the decoder really parses bytes: a corrupted magic number must throw
    val bad = media.withColumn("media",
      org.apache.spark.sql.functions.encode(lit("P6\n1 1\n255\nx"), "UTF-8"))
    intercept[org.apache.spark.SparkException] {
      Multimodal.decodeFeatures(bad, Multimodal.PgmCodec).collect()
    }
  }

  test("multimodal: BMP render → REAL binary-header codec round-trip") {
    import spark.implicits._
    // includes non-ASCII (é = 2 UTF-8 bytes) — width/height/sums are BYTE
    // quantities, and the raster holds raw UTF-8 bytes
    val df = Seq((1L, "hello world"), (2L, ""), (3L, "café haus"),
      (4L, "x" * 57)).toDF("doc_id", "text")
    val media = graft.ops.Multimodal.attachBmp(df, "doc_id", "text")
    // the payload is a parseable BMP: magic, 1078 data offset, dims from bytes
    val raw = media.filter(col("media_id") === 1L)
      .select("media").collect()(0).getAs[Array[Byte]](0)
    assert(raw(0) == 'B' && raw(1) == 'M')
    assert(raw.length == 1078 + 16) // n=11 → w=(11%4+1)*4=16, h=1 → 16 px
    val got = graft.ops.Multimodal.decodeFeatures(media, graft.ops.Multimodal.BmpCodec)
      .collect().map(f => f.media_id ->
        ((f.width, f.height, f.pixel_sum, f.n_bytes, f.mean_milli))).toMap
    def expect(text: String): (Int, Int, Long, Long, Long) = {
      val bytes = text.getBytes("UTF-8")
      val n = bytes.length
      val w = (n % 4 + 1) * 4
      val h = math.max(1L, math.ceil(n.toDouble / w).toLong)
      val sum = bytes.map(b => (b & 0xff).toLong).sum
      (w, h.toInt, sum, 1078L + w * h, sum * 1000L / (w * h))
    }
    assert(got(1L) == expect("hello world"))
    assert(got(2L) == expect(""))
    assert(got(3L) == expect("café haus"))
    assert(got(4L) == expect("x" * 57)) // multi-row raster (h > 1)
  }

  test("multimodal: WAV render → REAL chunk-walking PCM codec round-trip") {
    import spark.implicits._
    val df = Seq((1L, "hello world"), (2L, ""), (3L, "café haus"))
      .toDF("doc_id", "text")
    val media = graft.ops.Multimodal.attachWav(df, "doc_id", "text")
    // the payload is a parseable canonical WAV: RIFF/WAVE magics, fmt, data
    val raw = media.filter(col("media_id") === 1L)
      .select("media").collect()(0).getAs[Array[Byte]](0)
    assert(new String(raw, 0, 4, "US-ASCII") == "RIFF")
    assert(new String(raw, 8, 4, "US-ASCII") == "WAVE")
    assert(raw.length == 44 + 2 * 11)
    val got = graft.ops.Multimodal.decodeFeatures(media, graft.ops.Multimodal.WavCodec)
      .collect().map(f => f.media_id ->
        ((f.width, f.height, f.pixel_sum, f.n_bytes, f.mean_milli))).toMap
    def expect(text: String): (Int, Int, Long, Long, Long) = {
      val bytes = text.getBytes("UTF-8")
      val n = bytes.length
      val sum = bytes.map(b => (b & 0xff).toLong).sum
      (1, n, sum, 44L + 2 * n, sum * 1000L / math.max(1L, n.toLong))
    }
    assert(got(1L) == expect("hello world"))
    assert(got(2L) == expect("")) // zero frames, zero amplitude, no div-by-0
    assert(got(3L) == expect("café haus")) // byte (not char) frame count

    // hand-built STEREO wav with negative samples and an unknown odd-sized
    // chunk before data — exercises the chunk walker, word-alignment skip,
    // channel split and the abs fold
    def le2(v: Int) = Array[Byte]((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
    def le4(v: Int) = Array[Byte]((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    val samples = Seq(100, -100, 32000, -32000) // 2 frames x 2 channels
    val data = samples.flatMap(le2).toArray
    val junk = Array[Byte](1, 2, 3) // odd size -> 1 pad byte follows
    val wav = "RIFF".getBytes ++ le4(4 + 8 + 16 + 8 + 4 + 8 + data.length) ++
      "WAVE".getBytes ++
      "fmt ".getBytes ++ le4(16) ++ le2(1) ++ le2(2) ++ le4(8000) ++
      le4(32000) ++ le2(4) ++ le2(16) ++
      "LIST".getBytes ++ le4(junk.length) ++ junk ++ Array[Byte](0) ++
      "data".getBytes ++ le4(data.length) ++ data
    val (ch, frames, amp) = graft.ops.Multimodal.WavCodec.decode(wav)
    assert(ch == 2 && frames == 2 && amp == 100L + 100 + 32000 + 32000)

    // the decoder really parses: corrupt magic and non-PCM must throw
    intercept[IllegalArgumentException] {
      graft.ops.Multimodal.WavCodec.decode("RIFX1234WAVE".getBytes)
    }
    val nonPcm = wav.clone()
    nonPcm(20) = 3 // audioFormat = 3 (IEEE float)
    intercept[IllegalArgumentException] {
      graft.ops.Multimodal.WavCodec.decode(nonPcm)
    }

    // corrupt chunk sizes must FAIL LOUDLY, never hang the walk (ADVICE
    // r05: size = -8 left `i` unchanged and the loop spun forever) or walk
    // backwards/out of bounds
    for (bad <- Seq(-8, -9, -1, Int.MinValue, data.length + 1000)) {
      val corrupt = wav.clone()
      // overwrite the data chunk's size field (offset of "data" + 4)
      val dataOff = wav.length - data.length - 8
      le4(bad).copyToArray(corrupt, dataOff + 4)
      intercept[IllegalArgumentException] {
        graft.ops.Multimodal.WavCodec.decode(corrupt)
      }
    }
    // truncated fmt chunk (size < 16) throws instead of reading past it
    val shortFmt = wav.clone()
    le4(8).copyToArray(shortFmt, 16) // fmt size field lives at offset 16
    intercept[IllegalArgumentException] {
      graft.ops.Multimodal.WavCodec.decode(shortFmt)
    }
  }

  test("text analysis: quality/langid/token counts on crafted inputs") {
    val d = docs(
      (1L, "the quick brown fox jumps over the lazy dog."),
      (2L, "der hund und die katze sind zu haus mit der maus"),
      (3L, "12345 !!!"))
    val q = TextAnalysis.quality(d, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(q(1L).getAs[Long]("n_stop") > 0)
    assert(q(3L).getAs[Long]("n_digit") == 5)
    val l = TextAnalysis.langId(d, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getAs[String]("lang_pred")).toMap
    assert(l(1L) == "en" && l(2L) == "de" && l(3L) == "und")
    val t = TextAnalysis.tokenCounts(d, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(t(1L)._1 == 9) // whitespace tokens
    assert(t(3L)._2 == 4) // "12345", "!", "!", "!"
  }

  test("fingerprint: deterministic rolling hash") {
    val d = docs((1L, "abc"), (2L, "abc"), (3L, "abd"))
    val fp = TextAnalysis.fingerprints(d, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fp(1L) == fp(2L) && fp(1L) != fp(3L))
    // ((0*31+97)%p *31 + 98)%p *31 + 99 = 97*961 + 98*31 + 99
    assert(fp(1L) == 97L * 31 * 31 + 98L * 31 + 99L)
  }

  test("kmeans clusters: total assignment, bounded cluster count, deterministic") {
    val out = Similarity.kmeansClusters(vecs10x, "vec_id", "embedding")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.size == 600, "every nonzero-norm vector gets exactly one cluster")
    val nClusters = out.values.toSet.size
    assert(nClusters > 1 && nClusters <= 25, // ceil(sqrt(600)) = 25 seeds
      s"trained cluster count $nClusters out of [2, 25]")
    val again = Similarity.kmeansClusters(vecs10x, "vec_id", "embedding")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again == out, "training must be deterministic under recompute")
  }

  test("kmeans clusters: input quantized once, leaves read the cache") {
    var out: org.apache.spark.sql.DataFrame = null
    val plan = checkpointedPlan {
      out = assertReleased(Similarity.kmeansClusters(vecs10x, "vec_id", "embedding"))
    }
    // the quantized input is read from its cache; the one other leaf is the
    // trained codebook, built on the driver from the collected centroids
    val (cached, other) = plan.collectLeaves().partition(
      _.isInstanceOf[org.apache.spark.sql.execution.columnar.InMemoryRelation])
    assert(cached.nonEmpty && other.forall(_.output.map(_.name) == Seq("cid", "s", "s2")),
      s"every input leaf must read the cache:\n$plan")
    val again = Similarity.kmeansClusters(vecs10x, "vec_id", "embedding")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap == again)
  }

  test("semantic dedup == exact within-cluster cosine recomputation") {
    val pct = 40
    val got = Similarity.semanticDedup(vecs10x, "vec_id", "embedding", thresholdPct = pct)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    // same deterministic training → identical assignment; recompute the
    // min-id-keeper rule exactly (same quantization, same IEEE comparison)
    val cluster = Similarity.kmeansClusters(vecs10x, "vec_id", "embedding")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val qv = vecs10x.collect().map { r =>
      val q = r.getSeq[Float](1).map(x => math.floor(x.toDouble * 1000).toLong).toArray
      r.getLong(0) -> q
    }.toMap
    def n2(q: Array[Long]) = q.map(x => x * x).sum
    val expectDrop = (for {
      (b, qb) <- qv.toSeq; (a, qa) <- qv.toSeq
      if a < b && cluster(a) == cluster(b)
      d = qa.zip(qb).map { case (x, y) => x * y }.sum
      if d >= 0 && d.toDouble * d.toDouble * 10000.0 >=
        (pct.toDouble * pct) * n2(qa).toDouble * n2(qb).toDouble
    } yield b).toSet
    assert(got.size == 600)
    assert(expectDrop.nonEmpty && expectDrop.size < 600,
      s"premise: threshold $pct must split the planted clusters both ways (${expectDrop.size})")
    for ((id, (cid, keep)) <- got) {
      assert(cid == cluster(id), s"cluster mismatch for $id")
      assert((keep == 0L) == expectDrop(id), s"keep mismatch for $id (keep=$keep)")
    }
  }

  test("semantic dedup maxCluster rail: overfull clusters skip the pair phase") {
    // cap below every cluster's size -> no pair join anywhere, all keep=1,
    // but assignment is untouched (members stay clustered)
    val capped = Similarity.semanticDedup(vecs10x, "vec_id", "embedding",
      thresholdPct = 40, maxCluster = 1L)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    val cluster = Similarity.kmeansClusters(vecs10x, "vec_id", "embedding")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(capped.size == 600)
    assert(capped.values.forall(_._2 == 1L),
      "every member of an overfull cluster must survive with keep=1")
    for ((id, (cid, _)) <- capped)
      assert(cid == cluster(id), s"cap must not disturb assignment for $id")
    // explicit uncapped opt-in reproduces the default-parameter result
    val unc = Similarity.semanticDedup(vecs10x, "vec_id", "embedding",
      thresholdPct = 40, maxCluster = Long.MaxValue)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    val dflt = Similarity.semanticDedup(vecs10x, "vec_id", "embedding",
      thresholdPct = 40)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(unc == dflt,
      "default cap (10k) must be a no-op on small clusters == explicit uncapped")
  }

  test("semantic dedup: assignment evaluated once, leaves read the cache") {
    var out: org.apache.spark.sql.DataFrame = null
    val plan = checkpointedPlan {
      out = assertReleased(
        Similarity.semanticDedup(vecs10x, "vec_id", "embedding", thresholdPct = 40))
    }
    // every leaf of the pair+keep plan is a persisted cache — no path in it
    // can re-run the Lloyd assignment (it ran once, in the cap-probe action)
    val leaves = plan.collectLeaves()
    assert(leaves.nonEmpty && leaves.forall(
      _.isInstanceOf[org.apache.spark.sql.execution.columnar.InMemoryRelation]),
      s"every leaf must read the cache:\n$plan")
    // the materialized result == a recomputation
    val again = Similarity.semanticDedup(vecs10x, "vec_id", "embedding",
      thresholdPct = 40)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(out.collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap == again)
  }
}
