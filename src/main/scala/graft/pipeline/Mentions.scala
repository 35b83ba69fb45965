package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.CacheScope

/** Batched mention detection (SURVEY.md §2.9): token n-grams of every turn
  * joined against the natural-language index, then overlap resolution by a
  * non-recursive longest-match dominance rule.
  *
  * Three physical shapes, ONE semantics (equivalence-tested):
  *
  *  - [[detect]] — pure Catalyst: codegen'd n-gram generate + dictionary join
  *    + dominance self-anti-join. Expressible in plain SQL (the DuckDB oracle
  *    path). The dictionary side broadcasts by default.
  *  - [[detect]] with `broadcastDict = false` — the same plan shapes but a
  *    SHUFFLE join on the surface key: the path for dictionaries too large to
  *    broadcast (the grams side partitions by surface; no driver collect at
  *    all).
  *  - [[detectFast]] — a broadcast token-TRIE scanned in one narrow
  *    `mapPartitions` (Aho-Corasick-style, SURVEY §2.7): no gram explode, no
  *    shuffle, zero string concatenation in the hot loop. The pipeline's
  *    default for broadcast-sized dictionaries. The scan emits one row per
  *    matched turn, its matches packed as `Int` spans and ordinals into the
  *    broadcast dictionary, and a narrow generator + projection expands and
  *    decodes them; the conv-bucketed mentions stage clusters the PACKED
  *    rows by `conv_id` between the two, so its one exchange carries one
  *    int array per turn, not a dictionary-string row per mention
  *    ([[detectTrie]]).
  *
  * [[detectRouted]] picks between the trie scan and the shuffle join by the
  * dictionary's size — an unconditional broadcast/driver-collect of a 10^8-row
  * dictionary would be a multi-GB driver build (VERDICT r01 #4).
  *
  * Dominance rule (deterministic, set-algebraic — unlike sequential maximal
  * munch it needs no recursion, so the same rule is expressible in the DuckDB
  * oracle): a match survives iff no OTHER overlapping match is longer, or
  * equally long with an earlier start. Spans are in token space.
  */
object Mentions {

  /** Render index entries to matchable surfaces: `label` or `label (info)`
    * (`kg-entities.rs:204,366-370`); rendered collisions resolved by the Ent
    * priority lattice then id (deterministic superset of the reference, whose
    * keys are (surface, info) pairs and never rendered-collide).
    * Input: (surface, info?, id, kind [, weight]); output: distinct
    * (surface, id, kind, is_prop, weight).
    */
  def renderSurfaces(index: DataFrame, isProp: Boolean): DataFrame = {
    val withW =
      if (index.columns.contains("weight")) index
      else index.withColumn("weight", lit(1L))
    val rendered = withW.withColumn(
      "msurface",
      when(col("info").isNotNull && col("info") =!= "",
        concat(col("surface"), lit(" ("), col("info"), lit(")")))
        .otherwise(col("surface")))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("msurface"))
      .orderBy(col("kind").asc, col("id").asc)
    rendered
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("msurface").as("surface"), col("surface").as("base"),
        col("id"), col("kind"), lit(isProp).as("is_prop"), col("weight"))
  }

  /** Dictionaries built outside [[renderSurfaces]] may lack the undecorated
    * `base` column — default it to the surface itself.
    */
  private def withBase(dictionary: DataFrame): DataFrame =
    if (dictionary.columns.contains("base")) dictionary
    else dictionary.withColumn("base", col("surface"))

  /** All token n-grams (n = 1..maxN) of `textCol` with token-space start
    * positions, as one flattened array<struct<start,len,gram>>.
    */
  def ngrams(textCol: Column, maxN: Int): Column = {
    // toks = split on whitespace; grams via nested higher-order transforms —
    // stays inside WholeStageCodegen.
    // split never yields an empty array (split("","\\s+") = [""]), so the
    // inner sequence bound is safe; out-of-range (i, n) pairs are nulled and
    // filtered rather than risking a descending `sequence`.
    val toks = split(textCol, "\\s+")
    flatten(
      transform(
        sequence(lit(1), lit(maxN)),
        n => filter(
          transform(
            sequence(lit(0), size(toks) - 1),
            i => when(i + n <= size(toks),
              struct(
                i.as("start"),
                n.as("len"),
                concat_ws(" ", slice(toks, i + 1, n)).as("gram")))),
          x => x.isNotNull)))
  }

  /** Detect + link mentions — the Catalyst formulation.
    * @param turns (conv_id, turn_idx, text, ...)
    * @param dictionary union of rendered entity + property surfaces
    *                   (surface, id, kind, is_prop, weight)
    * @param broadcastDict false → shuffle join on the surface key (the
    *                      beyond-broadcast-scale dictionary path)
    * @return (conv_id, turn_idx, span_start, span_end, surface, id, kind,
    *          is_prop, score)
    */
  def detect(turns: DataFrame, dictionary: DataFrame, maxN: Int = 4,
      broadcastDict: Boolean = true): DataFrame =
    detect(turns, dictionary, new CacheScope, maxN, broadcastDict)

  /** [[detect]] persisting its intermediate (the match set rides BOTH sides
    * of the dominance anti-join) through the caller's `scope`, which the
    * caller closes once the result is materialized — the scope-less form
    * above leaks that cache across repeated calls in one session.
    */
  def detect(turns: DataFrame, dictionary: DataFrame, scope: CacheScope,
      maxN: Int, broadcastDict: Boolean): DataFrame = {
    val grams = turns
      .select(col("conv_id"), col("turn_idx"),
        explode(ngrams(col("text"), maxN)).as("g"))
      .select(col("conv_id"), col("turn_idx"),
        col("g.start").as("span_start"),
        (col("g.start") + col("g.len")).as("span_end"),
        col("g.gram").as("surface"))
    val dict = withBase(dictionary)
    val dictSide = if (broadcastDict) broadcast(dict) else dict
    // persisted: the dominance anti-join reads `matches` on BOTH sides — the
    // gram generate + dictionary probe (the expensive part) must run once.
    val matches = scope.persist(grams
      .join(dictSide, Seq("surface"))
      .select(col("conv_id"), col("turn_idx"), col("span_start"), col("span_end"),
        col("surface"), col("id"), col("kind"), col("is_prop"),
        col("weight").cast("double").as("score"), col("base")))

    // dominance anti-join: drop matches overlapped by a strictly better one
    val m = matches.alias("m")
    val d = matches.alias("d")
    val overlap = col("d.span_start") < col("m.span_end") &&
      col("m.span_start") < col("d.span_end")
    val better =
      (col("d.span_end") - col("d.span_start")) > (col("m.span_end") - col("m.span_start")) ||
        ((col("d.span_end") - col("d.span_start")) === (col("m.span_end") - col("m.span_start")) &&
          col("d.span_start") < col("m.span_start"))
    m.join(d,
      col("m.conv_id") === col("d.conv_id") &&
        col("m.turn_idx") === col("d.turn_idx") && overlap && better,
      "left_anti")
  }

  /** The dictionary as compact parallel arrays — what actually rides the
    * broadcast. Java-serializes as five flat arrays (fast) instead of a
    * million-object trie graph (slow, and built on the DRIVER — a pure
    * Amdahl serial fraction the full-pipeline scaling pair exposed).
    */
  final case class DictRows(
      surfaces: Array[String], ids: Array[String], kinds: Array[Int],
      isProp: Array[Boolean], weights: Array[Double], bases: Array[String])

  /** Token trie over multi-token surfaces: flat arrays of nodes, children
    * keyed by TOKEN (not character), payload on terminal nodes. The scan
    * walks tokens with zero string concatenation or gram allocation —
    * matched surfaces come out of the payload arrays. Built lazily ONCE PER
    * EXECUTOR JVM from the broadcast [[DictRows]] (see [[SurfaceTrie.of]]),
    * never serialized.
    */
  final class SurfaceTrie(
      val kids: Array[java.util.HashMap[String, Integer]],
      val hit: Array[Int], // node → payload index, -1 if non-terminal
      val rows: DictRows) {
    def size: Int = rows.surfaces.length
  }

  object SurfaceTrie {
    def build(rows: DictRows): SurfaceTrie = {
      val kids = scala.collection.mutable.ArrayBuffer(
        new java.util.HashMap[String, Integer]())
      val hit = scala.collection.mutable.ArrayBuffer(-1)
      var p = 0
      while (p < rows.surfaces.length) {
        val surface = rows.surfaces(p)
        var node = 0
        def step(tok: String): Unit = {
          val nxt = kids(node).get(tok)
          node = if (nxt != null) nxt.intValue()
          else {
            kids += new java.util.HashMap[String, Integer]()
            hit += -1
            kids(node).put(tok, kids.length - 1)
            kids.length - 1
          }
        }
        // fast path: most dictionary surfaces are single-token — skip the
        // split allocation entirely (this build is on the job's serial path)
        if (surface.indexOf(' ') < 0) step(surface)
        else surface.split(" ").foreach(step)
        hit(node) = p
        p += 1
      }
      new SurfaceTrie(kids.toArray, hit.toArray, rows)
    }

    /** Tries one executor JVM keeps: one batch and one streaming
      * dictionary may share a JVM. Every span call broadcasts a new
      * [[DictRows]], so an older trie (and, through `rows`, its whole
      * dictionary) is dead weight once a newer call has started.
      */
    private val MaxCached = 2

    // per-JVM trie cache keyed by broadcast id, least recently used first:
    // the trie is built once per executor (in parallel across executors,
    // off the driver's critical path) and shared by every task/partition
    // in that JVM
    private val cache = new java.util.LinkedHashMap[Long, SurfaceTrie](4, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[Long, SurfaceTrie]): Boolean = size > MaxCached
    }

    def of(broadcastId: Long, rows: => DictRows): SurfaceTrie = cache.synchronized {
      var t = cache.get(broadcastId)
      if (t == null) { t = build(rows); cache.put(broadcastId, t) }
      t
    }
  }

  /** Compact the dictionary to flat arrays and broadcast it — the one
    * broadcast both ends of [[detectTrie]] (scan and decode) read.
    *
    * EXECUTOR-PARALLEL compaction: each partition decodes its rows into one
    * flat DictRows (the expensive per-row work runs on executors, in
    * parallel); the driver only arraycopies the partials together. The
    * round-2 shape collected raw Rows and decoded them in a single driver
    * thread — a pure Amdahl serial fraction the full-span scaling pair
    * exposed (VERDICT r02 next-step #2).
    */
  private[graft] def compactDict(
      dictionary: DataFrame): org.apache.spark.broadcast.Broadcast[DictRows] = {
    val spark = dictionary.sparkSession
    val parts: Array[DictRows] = withBase(dictionary)
      .select(col("surface"), col("id"), col("kind"), col("is_prop"),
        col("weight").cast("double"), col("base"))
      .rdd.mapPartitions { it =>
        val s = Array.newBuilder[String]; val ids = Array.newBuilder[String]
        val k = Array.newBuilder[Int]; val p = Array.newBuilder[Boolean]
        val w = Array.newBuilder[Double]; val b = Array.newBuilder[String]
        while (it.hasNext) {
          val r = it.next()
          s += r.getString(0); ids += r.getString(1); k += r.getInt(2)
          p += r.getBoolean(3); w += r.getDouble(4); b += r.getString(5)
        }
        Iterator.single(DictRows(s.result(), ids.result(), k.result(),
          p.result(), w.result(), b.result()))
      }.collect()
    val n = parts.iterator.map(_.surfaces.length).sum
    val rows = DictRows(new Array[String](n), new Array[String](n),
      new Array[Int](n), new Array[Boolean](n), new Array[Double](n),
      new Array[String](n))
    var off = 0
    parts.foreach { pr =>
      val m = pr.surfaces.length
      System.arraycopy(pr.surfaces, 0, rows.surfaces, off, m)
      System.arraycopy(pr.ids, 0, rows.ids, off, m)
      System.arraycopy(pr.kinds, 0, rows.kinds, off, m)
      System.arraycopy(pr.isProp, 0, rows.isProp, off, m)
      System.arraycopy(pr.weights, 0, rows.weights, off, m)
      System.arraycopy(pr.bases, 0, rows.bases, off, m)
      off += m
    }
    spark.sparkContext.broadcast(rows)
  }

  /** Whitespace tokenizer of the scan hot loop, compiled ONCE per JVM:
    * `String.split("\\s+")` recompiles the regex on every call (the JDK
    * fast path covers only single literal characters) — at 10^7 turns per
    * partition that is 10^7 `Pattern.compile`s inside the dominant stage.
    * Semantics identical to `split(text, "\\s+")` everywhere else.
    */
  private val Whitespace = java.util.regex.Pattern.compile("\\s+")

  private val NoMatches = new Array[Int](0)

  /** One turn's trie scan + dominance filter: the surviving matches as
    * packed (span_start, span_end, payload index) triples in scan order,
    * empty when none survives. A NULL text has none, as in [[detect]].
    */
  private[graft] def scanText(t: SurfaceTrie, text: String, maxN: Int): Array[Int] = {
    if (text == null) return NoMatches
    val toks = Whitespace.split(text)
    // packed (start, end, payload) of every match, `n` ints used
    var found = NoMatches
    var n = 0
    var i = 0
    while (i < toks.length) {
      var node = 0
      var j = i
      var continue = true
      while (continue && j < toks.length && j - i < maxN) {
        val nxt = t.kids(node).get(toks(j))
        if (nxt == null) continue = false
        else {
          node = nxt.intValue()
          j += 1
          if (t.hit(node) >= 0) {
            if (n == found.length) found = java.util.Arrays.copyOf(found, math.max(24, n * 2))
            found(n) = i; found(n + 1) = j; found(n + 2) = t.hit(node)
            n += 3
          }
        }
      }
      i += 1
    }
    // dominance: survives iff no overlapping strictly-better match
    val out = new Array[Int](n)
    var kept = 0
    var a = 0
    while (a < n) {
      val s = found(a); val e = found(a + 1)
      var dominated = false
      var b = 0
      while (!dominated && b < n) {
        val s2 = found(b); val e2 = found(b + 1)
        dominated = s2 < e && s < e2 &&
          ((e2 - s2) > (e - s) || ((e2 - s2) == (e - s) && s2 < s))
        b += 3
      }
      if (!dominated) {
        out(kept) = s; out(kept + 1) = e; out(kept + 2) = found(a + 2)
        kept += 3
      }
      a += 3
    }
    if (kept == n) out else java.util.Arrays.copyOf(out, kept)
  }

  /** Trie-scan variant of [[detect]] — IDENTICAL semantics (same match set,
    * same dominance rule; equivalence-tested), different physical shape: a
    * single narrow `mapPartitions` over turns probing a broadcast token-trie,
    * then a narrow decode ([[detectTrie]] with no exchange).
    *
    * The dictionary is collected to the driver and broadcast — use
    * [[detectRouted]] when the dictionary may exceed broadcast scale.
    */
  def detectFast(turns: DataFrame, dictionary: DataFrame, maxN: Int = 4): DataFrame =
    detectTrie(turns, dictionary, maxN)

  /** The trie path as scan → (optional exchange) → decode, over ONE
    * dictionary broadcast:
    *
    *  - the scan emits ONE row per turn with at least one surviving match:
    *    `(conv_id, turn_idx, m)` plus the `passThrough` columns, where `m`
    *    packs the turn's (span_start, span_end, payload) triples into one
    *    `array<int>` and `payload` is the match's index into the broadcast
    *    [[DictRows]];
    *  - `buckets > 0` hash-clusters those rows by `conv_id` into `buckets`
    *    partitions — the distribution a conv-bucketed stage write requires,
    *    so the write's own repartition is planned away and the stage's one
    *    exchange moves one int array per turn instead of one row of six
    *    dictionary-derived columns per mention (Hyper Dimension Shuffle's
    *    bytes-moved cost);
    *  - the decode expands `m` to one row per match with a generator that
    *    keeps every other column as the same attribute (the clustering
    *    survives it), then maps `payload` to
    *    `surface, id, kind, is_prop, score, base` through the same broadcast.
    *
    * The payload never leaves the plan that made it, so it needs no stable
    * encoding and never reaches storage. Output columns: those of
    * [[detectFast]], then `passThrough` (the streaming path carries `ts`).
    */
  private[graft] def detectTrie(turns: DataFrame, dictionary: DataFrame,
      maxN: Int = 4, passThrough: Seq[String] = Nil, buckets: Int = 0): DataFrame = {
    val bcRows = compactDict(dictionary)
    val scanned = scanPayloads(turns, bcRows, maxN, passThrough)
    decodePayloads(
      if (buckets > 0) scanned.repartition(buckets, col("conv_id")) else scanned,
      bcRows, passThrough)
  }

  private def scanPayloads(turns: DataFrame,
      bcRows: org.apache.spark.broadcast.Broadcast[DictRows], maxN: Int,
      passThrough: Seq[String]): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types.{ArrayType, IntegerType, StringType, StructField, StructType}
    val in = turns.select(Seq(col("conv_id").cast("string"),
      col("turn_idx").cast("int"), col("text")) ++ passThrough.map(col): _*)
    val schema = StructType(Seq(
      StructField("conv_id", StringType),
      StructField("turn_idx", IntegerType, nullable = false),
      StructField("m", ArrayType(IntegerType, containsNull = false), nullable = false)) ++
      in.schema.fields.drop(3))
    in.mapPartitions { it =>
      // trie built once per executor JVM from the flat broadcast arrays
      val t = SurfaceTrie.of(bcRows.id, bcRows.value)
      it.flatMap { r =>
        val turn = r.getInt(1) // a null turn_idx fails loudly here
        val m = scanText(t, r.getString(2), maxN)
        if (m.length == 0) Iterator.empty
        else {
          // one flat array per row: building it from Seqs cost a quarter of
          // the scan's CPU
          val v = new Array[Any](r.length)
          v(0) = r.getString(0); v(1) = turn; v(2) = m
          var k = 3
          while (k < r.length) { v(k) = r.get(k); k += 1 }
          Iterator.single(Row.fromSeq(scala.collection.immutable.ArraySeq.unsafeWrapArray(v)))
        }
      }
    }(Encoders.row(schema))
  }

  /** Narrow decode: one row per packed triple of `m` (the scan emits no
    * empty `m`), then payload → the dictionary columns through ONE udf
    * returning all six (six single-column udfs measured ~10% more CPU).
    * The generator keeps `conv_id`, `turn_idx` and `passThrough` as the
    * same attributes, so a `conv_id` hash partitioning below survives it.
    */
  private def decodePayloads(scanned: DataFrame,
      bcRows: org.apache.spark.broadcast.Broadcast[DictRows],
      passThrough: Seq[String]): DataFrame = {
    val decode = udf { (p: Int) =>
      val d = bcRows.value
      (d.surfaces(p), d.ids(p), d.kinds(p), d.isProp(p), d.weights(p), d.bases(p))
    }.asNonNullable()
    val m = col("m")
    val matches = inline(transform(sequence(lit(0), size(m) - 1, lit(3)), k =>
      struct(m(k).as("span_start"), m(k + 1).as("span_end"), m(k + 2).as("payload"))))
    val span = Seq("conv_id", "turn_idx", "span_start", "span_end").map(col)
    scanned.select((Seq("conv_id", "turn_idx") ++ passThrough).map(col) :+ matches: _*)
      .select(span ++ passThrough.map(col) :+ decode(col("payload")).as("decoded"): _*)
      .select(span ++ Seq("surface", "id", "kind", "is_prop", "score", "base")
        .zipWithIndex.map { case (c, i) => col(s"decoded._${i + 1}").as(c) } ++
        passThrough.map(col): _*)
  }

  /** Size-guarded detection: trie scan while the dictionary fits broadcast
    * (row-count proxy; ~100 bytes/entry ⇒ the 20M default is a ~2 GB
    * broadcast), shuffle join beyond it. Both paths produce identical rows.
    * Persists through the caller's `scope`, released once the result is
    * materialized. `buckets > 0` clusters the trie path's packed per-turn
    * rows by `conv_id` for a conv-bucketed stage write (see [[detectTrie]]); the
    * shuffle-join path keeps its shape and leaves the clustering to the
    * write.
    *
    * @param knownDictRows caller-known dictionary row count (or a safe UPPER
    *                      bound, e.g. the sum of the committed index stage
    *                      manifests' row counts — an overestimate can only
    *                      flip to the always-safe shuffle join): the path
    *                      decision then costs no extra job (VERDICT r02 #3 /
    *                      ADVICE r02). None → count once over a persisted
    *                      dictionary so the (often expensive) dictionary plan
    *                      is not evaluated twice by count + collect.
    */
  private[graft] def detectRouted(turns: DataFrame, dictionary: DataFrame,
      scope: CacheScope, maxN: Int, broadcastMaxRows: Long,
      knownDictRows: Option[Long], buckets: Int): DataFrame = {
    // without a hint, count once over a persisted dictionary: the trie path
    // then collects it from the cache, the shuffle join reads it again
    val d = if (knownDictRows.isEmpty) scope.persist(dictionary) else dictionary
    if (knownDictRows.getOrElse(d.count()) <= broadcastMaxRows)
      detectTrie(turns, d, maxN, buckets = buckets)
    else detect(turns, d, scope, maxN, broadcastDict = false)
  }
}
