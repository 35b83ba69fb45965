package graft.io

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

/** A concurrent writer committed a DIFFERENT job (different fingerprint) to
  * this stage between this writer's read and its commit — the optimistic-
  * concurrency abort a real table format raises on validation conflict.
  * Same-fingerprint races never throw: the loser adopts the winner's commit
  * (identical fingerprint means identical content by the resume contract).
  */
final class ConcurrentWriteException(stage: String, mine: String, winner: String)
  extends RuntimeException(
    s"stage '$stage': concurrent commit won with fingerprint '$winner' " +
      s"while this writer held '$mine'")

/** A recommit changed the stage schema non-additively (dropped or retyped a
  * column, or added a non-nullable one). Additive evolution is the contract
  * a pinned old snapshot needs to stay readable under the current schema.
  */
final class SchemaEvolutionException(stage: String, detail: String)
  extends RuntimeException(s"stage '$stage': incompatible schema change — $detail")

/** Bucket spec of a bucketed stage. */
private final case class Buckets(cols: Seq[String], sortCols: Seq[String], n: Int)

/** Iceberg-style table layer (SURVEY.md §7.0): partitioned Parquet plus a
  * per-stage numbered-manifest commit log recording input fingerprint, row
  * count, schema and commit time. Gives the properties the north rule uses
  * Iceberg for — atomic commit (data published, then one atomic manifest
  * link), lineage (fingerprint chain), idempotent resume (a stage whose
  * manifest matches its input fingerprint is read back instead of
  * recomputed), snapshot isolation + version time travel (immutable
  * fingerprint-versioned data dirs), optimistic concurrent writers
  * (hard-link CAS on the next manifest number; see [[casCommit]]) and
  * additive schema evolution (see [[validateEvolution]]). A real Iceberg
  * catalog can replace this behind the same `runStage` seam; the sandbox
  * ships no Iceberg runtime jar.
  */
/** @param exactDegreeRows stages above this row count estimate the
  *                        [[maxDegree]] column stat from a 1% sample
  *                        instead of an exact group-count (the default
  *                        matches production; tests inject a small bound
  *                        to exercise the sampled path)
  */
final class ManifestStore(spark: SparkSession, baseDir: String,
    exactDegreeRows: Long = 10000000L) {

  // binary-compatible 2-arg constructor (the pre-r5 public shape)
  def this(spark: SparkSession, baseDir: String) =
    this(spark, baseDir, 10000000L)

  private def manifestPath(stage: String): Path = Paths.get(baseDir, stage, "_MANIFEST.json")
  private def versionsDir(stage: String): Path = Paths.get(baseDir, stage, "_versions")

  /** The stage's commit log: numbered immutable manifest files, newest =
    * source of truth (`_MANIFEST.json` is kept as a best-effort mirror for
    * pre-r5 readers; a legacy stage with only the mirror reads as v1).
    * Field-extraction regexes below take the FIRST match, so manifest
    * writers must keep `schema` (the one field whose VALUE can embed other
    * field names) last.
    */
  private def versionFileNum(name: String): Option[Long] =
    "manifest-v(\\d+)\\.json".r.unapplySeq(name).flatMap(_.headOption).map(_.toLong)

  /** `f` over the entries of directory `d`; the listing stream (one open
    * file descriptor) is closed before this returns.
    */
  private def listDir[A](d: Path)(f: Iterator[Path] => A): A =
    Using.resource(Files.list(d))(s => f(s.iterator().asScala))

  private def latestVersion(stage: String): Option[Long] = {
    val d = versionsDir(stage)
    if (!Files.exists(d)) return None
    listDir(d)(_.flatMap(p => versionFileNum(p.getFileName.toString)).maxOption)
  }

  /** Current commit version of the stage: 0 = never committed. */
  def versionOf(stage: String): Long =
    latestVersion(stage).getOrElse(
      if (Files.exists(manifestPath(stage))) 1L else 0L)

  private def readManifest(stage: String): Option[String] =
    readManifestVersion(stage, versionOf(stage))

  /** The raw manifest committed as version `v` of the stage (legacy stages
    * expose their single `_MANIFEST.json` as v1).
    */
  def readManifestVersion(stage: String, v: Long): Option[String] = {
    if (v <= 0) return None
    val versioned = versionsDir(stage).resolve(f"manifest-v$v%09d.json")
    val p =
      if (Files.exists(versioned)) versioned
      else if (latestVersion(stage).isEmpty && v == 1L && Files.exists(manifestPath(stage)))
        manifestPath(stage)
      else return None
    Some(new String(Files.readAllBytes(p), StandardCharsets.UTF_8))
  }

  /** Stage data dirs are VERSIONED by the fingerprint digest (r5, VERDICT
    * r04 #7): a rerun writes `data-<digest>` next to the previous version
    * instead of overwriting `data` in place, so a reader pinned to an
    * older snapshot ([[commitSnapshot]]) keeps reading intact files while
    * the rerun commits. The manifest's `data` field names the live dir;
    * legacy manifests (no field) resolve to the round-4 `data` layout.
    */
  private def versionedDataDir(fingerprint: String): String =
    s"data-${digest(fingerprint).take(16)}"
  private def dataPathFor(stage: String, dir: String): String =
    Paths.get(baseDir, stage, dir).toString
  private def digest(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes(StandardCharsets.UTF_8)).map(b => f"$b%02x").mkString

  /** Manifest field `name`: a string value (unescaped), or with `num` an integer. */
  private def field(manifest: String, name: String, num: Boolean = false): Option[String] =
    (s"\"$name\"\\s*:\\s*" + (if (num) "(\\d+)" else "\"((?:[^\"\\\\]|\\\\.)*)\"")).r
      .findFirstMatchIn(manifest).map(m => if (num) m.group(1) else jsonUnescape(m.group(1)))

  /** The committed data dir of a stage per its manifest (legacy = `data`). */
  def dataDirOf(stage: String): Option[String] =
    readManifest(stage).map(field(_, "data").getOrElse("data"))
  private def dataPath(stage: String): String =
    dataPathFor(stage, dataDirOf(stage).getOrElse("data"))

  def fingerprintOf(stage: String): Option[String] =
    readManifest(stage).flatMap(field(_, "fingerprint"))

  def rowCountOf(stage: String): Option[Long] =
    readManifest(stage).flatMap(field(_, "rows", num = true)).map(_.toLong)

  /** Approximate distinct count of the column named via `runStage`'s
    * `distinctOf` — an observability column stat (observed free during the
    * write job).
    */
  def distinctCountOf(stage: String): Option[Long] =
    readManifest(stage).flatMap(field(_, "distinct", num = true)).map(_.toLong)

  /** Head-key degree (max rows per key) of the column named via `runStage`'s
    * `degreeOf` — the skew signal the link-score salt gate
    * ([[graft.pipeline.SaltedAgg.linkScores]]) keys on. A mean
    * (rows ÷ distinct) cannot bound the max: a Zipfian head key holds a hot
    * reducer's worth of rows while millions of singletons keep the mean low
    * (ADVICE r04), so the gate needs the observed MAX.
    */
  def maxDegreeOf(stage: String): Option[Long] =
    readManifest(stage).flatMap(field(_, "max_degree", num = true)).map(_.toLong)

  /** The bucket spec the stage's manifest recorded (None: written plain;
    * no sort columns on a manifest that predates `sortBy`).
    */
  private def bucketsOf(stage: String): Option[Buckets] =
    readManifest(stage).flatMap(m => for {
      cols <- field(m, "bucketBy"); n <- field(m, "nBuckets", num = true)
    } yield Buckets(cols.split(",").toSeq,
      field(m, "sortBy").toSeq.flatMap(_.split(",")).filter(_.nonEmpty), n.toInt))

  /** The committed schema of a stage (absent on legacy pre-schema manifests). */
  def schemaOf(stage: String): Option[StructType] =
    schemaOfVersion(stage, versionOf(stage))

  /** The schema committed at stage version `v`. */
  def schemaOfVersion(stage: String, v: Long): Option[StructType] =
    readManifestVersion(stage, v).flatMap(field(_, "schema"))
      .map(s => DataType.fromJson(s).asInstanceOf[StructType])

  private def jsonEscape(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }
  private def jsonUnescape(s: String): String = {
    val b = new StringBuilder; var i = 0
    while (i < s.length) {
      if (s(i) == '\\' && i + 1 < s.length) s(i + 1) match {
        case 'n' => b += '\n'; i += 2
        case 'u' => b += Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar; i += 6
        case c => b += c; i += 2
      } else { b += s(i); i += 1 }
    }
    b.toString
  }

  /** Additive-evolution validation: every committed column must keep its
    * name and type; new columns must be nullable (an old snapshot read
    * under the new schema null-fills them — [[snapshotTable]] with
    * `evolveToCurrent`). Column DROPS and RETYPES are refused: they would
    * make pinned history unreadable under the live schema.
    */
  private def validateEvolution(stage: String, prev: StructType, next: StructType): Unit = {
    val nextByName = next.fields.map(f => f.name -> f).toMap
    prev.fields.foreach { p =>
      nextByName.get(p.name) match {
        case None => throw new SchemaEvolutionException(stage,
          s"column '${p.name}' dropped")
        case Some(n) if n.dataType != p.dataType =>
          throw new SchemaEvolutionException(stage,
            s"column '${p.name}' retyped ${p.dataType.catalogString} -> ${n.dataType.catalogString}")
        case _ => ()
      }
    }
    next.fields.filterNot(f => prev.fieldNames.contains(f.name)).foreach { f =>
      if (!f.nullable) throw new SchemaEvolutionException(stage,
        s"new column '${f.name}' must be nullable")
    }
  }

  /** Optimistic-concurrency commit: atomically create the next numbered
    * manifest file via a hard link (`link(2)` fails if the name exists —
    * the one local-FS primitive that is both atomic AND create-new;
    * `rename(2)` silently replaces on POSIX so ATOMIC_MOVE cannot CAS).
    * Returns None on win; the winner's fingerprint on loss. The
    * `_MANIFEST.json` mirror is updated best-effort after the win — the
    * numbered file is the commit point, so a crash between the two leaves
    * a fully committed stage.
    */
  private def casCommit(stage: String, manifestJson: String, expected: Long): Option[String] = {
    val vDir = versionsDir(stage)
    Files.createDirectories(vDir)
    val target = vDir.resolve(f"manifest-v${expected + 1}%09d.json")
    val tmp = vDir.resolve(s".tmp-${System.nanoTime()}")
    Files.write(tmp, manifestJson.getBytes(StandardCharsets.UTF_8))
    try {
      Files.createLink(target, tmp)
      Files.delete(tmp)
      writeAtomic(manifestPath(stage), manifestJson)
      None
    } catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        Files.deleteIfExists(tmp)
        Some(fingerprintOf(stage).getOrElse(""))
    }
  }

  /** Write `body` to `target` through a sibling temp file and one atomic rename. */
  private def writeAtomic(target: Path, body: String): Unit = {
    val tmp = target.resolveSibling(s"${target.getFileName}.tmp")
    Files.write(tmp, body.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** Max rows-per-key of `c` over the written stage — an Iceberg-style
    * column stat computed post-write from a column-pruned scan of the
    * committed files. Exact up to `exactDegreeRows`; above it a 1%
    * Bernoulli sample scales up: a head key of degree d surfaces ~d/100
    * sampled rows, so degrees near the salt gate's threshold (10^6) are
    * estimated within a few percent while light keys vanish — exactly the
    * asymmetry a skew gate wants. The seed is fixed: the stat must be
    * deterministic across reruns of the same committed files.
    */
  private def maxDegree(df: DataFrame, c: String, rows: Long): Long = {
    import org.apache.spark.sql.functions.{col, count, lit, max}
    val keyed =
      if (rows <= exactDegreeRows) df.select(col(c))
      else df.select(col(c)).sample(withReplacement = false, 0.01, seed = 42L)
    val r = keyed.groupBy(col(c)).agg(count(lit(1)).as("n"))
      .agg(max(col("n"))).collect()(0)
    val m = if (r.isNullAt(0)) 0L else r.getLong(0)
    if (rows <= exactDegreeRows) m else m * 100L
  }

  /** Run (or resume) a stage. `fingerprint` must deterministically describe
    * the stage's inputs + config; on match the previous output is read back.
    * Commit order: data → manifest, so a crash between the two re-runs the
    * stage (exactly-once materialization by manifest swap).
    *
    * @param distinctOf observe `approx_count_distinct` of this column during
    *                   the write job (zero extra scan — same Observation
    *                   mechanism as the row count) and record it in the
    *                   manifest
    * @param degreeOf   also record the max rows-per-key of this column
    *                   ([[maxDegree]] — one column-pruned pass over the
    *                   committed files, sampled above [[ExactDegreeRows]]):
    *                   the head-key skew stat the link-score salt gate reads
    * @param maxRecordsPerFile bound output file sizes (0 = writer default):
    *                          without it a low-parallelism write emits one
    *                          giant file per task and a high-parallelism
    *                          write of a small stage sprays tiny files —
    *                          the compaction policy a real table format
    *                          would own (VERDICT r03 missing #1); recorded
    *                          in the manifest for operational audit
    * @return (output, resumed)
    */
  def runStage(
      stage: String, fingerprint: String,
      partitionBy: Seq[String] = Nil,
      distinctOf: Option[String] = None,
      maxRecordsPerFile: Long = 0L,
      degreeOf: Option[String] = None)(compute: => DataFrame): (DataFrame, Boolean) =
    commit(stage, fingerprint, partitionBy, None, distinctOf, maxRecordsPerFile, degreeOf)(compute)

  /** The one commit sequence of every stage: resume check → expected
    * version → compute → schema-evolution check → observed write into an
    * inflight dir → atomic rename → stats → manifest → CAS → adopt or abort.
    * The layout (plain, or `bucketed`) changes only the write call and how
    * committed data is read back.
    */
  private def commit(
      stage: String, fingerprint: String, partitionBy: Seq[String],
      bucketed: Option[Buckets], distinctOf: Option[String], maxRecordsPerFile: Long,
      degreeOf: Option[String])(compute: => DataFrame): (DataFrame, Boolean) = {
    // committed files → the stage's output. A bucketed stage reads them
    // through its catalog table, re-pointed here — after a win, an adopt or
    // a resume only — so the live name never points at uncommitted files
    def readBack(path: String, schema: Option[StructType],
        layout: Option[Buckets]): DataFrame = layout match {
      case None => readCommitted(path, schema, partitionBy)
      case Some(b) =>
        val table = bucketedTableName(stage)
        spark.sql(s"DROP TABLE IF EXISTS $table")
        spark.sql(
          s"""CREATE TABLE $table (${schema.getOrElse(spark.read.parquet(path).schema).toDDL})
             |USING parquet CLUSTERED BY (${b.cols.mkString(", ")})
             |${if (b.sortCols.isEmpty) "" else b.sortCols.mkString("SORTED BY (", ", ", ")")}
             |INTO ${b.n} BUCKETS LOCATION '$path'""".stripMargin)
        spark.table(table)
    }
    // a resume or an adopt reads the layout the commit recorded: the
    // fingerprint does not cover the bucket spec
    def readLive(): DataFrame =
      readBack(dataPath(stage), schemaOf(stage), bucketed.flatMap(_ => bucketsOf(stage)))
    if (fingerprintOf(stage).contains(fingerprint)) {
      return (readLive(), true)
    }
    val expected = versionOf(stage)
    val out = compute
    // fail BEFORE the write if this commit would break pinned history
    schemaOf(stage).foreach(prev => validateEvolution(stage, prev, out.schema))
    // a bucketed dir's name also digests the bucket spec the manifest records,
    // so a reused dir (stale, or a concurrent same-job commit's) holds it
    val bucketJson = bucketed.fold("")(b =>
      s""""bucketBy":"${b.cols.mkString(",")}","sortBy":"${b.sortCols.mkString(",")}","nBuckets":${b.n},""")
    val dir = versionedDataDir(fingerprint + bucketJson)
    val path = dataPathFor(stage, dir)
    // data lands in an inflight dir first, then one atomic rename publishes
    // it — a concurrent same-fingerprint writer never half-overwrites the
    // shared version dir, and a crashed write leaves no visible files
    val inflight = dataPathFor(stage, s".inflight-$dir-${System.nanoTime()}")
    // row count observed DURING the write job — the round-2 shape re-read
    // the whole committed parquet just to count it (one extra full scan per
    // stage, a fixed IO cost the scaling pair paid at every stage)
    val obs = new org.apache.spark.sql.Observation(
      s"rows-$stage-${System.nanoTime()}")
    import org.apache.spark.sql.functions.{approx_count_distinct, col, count, lit}
    val metricCols = count(lit(1)).as("rows") +:
      distinctOf.map(c => approx_count_distinct(c).as("distinct")).toSeq
    // one shuffle partition per bucket: one file per bucket, no
    // tasks×buckets small-file spray
    val shaped = bucketed.fold(out)(b => out.repartition(b.n, b.cols.map(col): _*))
    val writer = shaped.observe(obs, metricCols.head, metricCols.tail: _*)
      .write.mode("overwrite")
      .option("maxRecordsPerFile", maxRecordsPerFile)
    bucketed match {
      case None =>
        (if (partitionBy.nonEmpty) writer.partitionBy(partitionBy: _*) else writer)
          .parquet(inflight)
      case Some(b) =>
        // bucket metadata needs a catalog table: write through a throwaway
        // name, then drop it (the table is external — its files stay, and
        // keep their bucket-id names through the rename)
        val scratch = s"${bucketedTableName(stage)}_inflight_${System.nanoTime()}"
        try writer.option("path", inflight)
          .bucketBy(b.n, b.cols.head, b.cols.tail: _*)
          .sortBy(b.sortCols.head, b.sortCols.tail: _*)
          .saveAsTable(scratch)
        finally spark.sql(s"DROP TABLE IF EXISTS $scratch")
    }
    val rows = obs.get("rows").asInstanceOf[Long]
    val distinctJson = distinctOf
      .map(_ => s""","distinct":${obs.get("distinct").asInstanceOf[Long]}""")
      .getOrElse("")
    // publish the version dir (a same-fingerprint winner racing us may have
    // published it already — identical content by contract, keep theirs)
    try Files.move(Paths.get(inflight), Paths.get(path), StandardCopyOption.ATOMIC_MOVE)
    catch {
      // FileAlreadyExists, DirectoryNotEmpty and the like
      case _: java.nio.file.FileSystemException => deleteTree(Paths.get(inflight))
    }
    val degreeJson = degreeOf
      .map(c => maxDegree(readCommitted(path, Some(out.schema), partitionBy), c, rows))
      .map(d => s""","max_degree":$d""").getOrElse("")
    val manifest =
      s"""{"stage":"$stage","fingerprint":"${jsonEscape(fingerprint)}","data":"$dir","version":${expected + 1},""" +
        s""""rows":$rows$distinctJson$degreeJson,"maxRecordsPerFile":$maxRecordsPerFile,""" +
        s"""$bucketJson"committed_at":${System.currentTimeMillis()},"schema":"${jsonEscape(out.schema.json)}"}"""
    casCommit(stage, manifest, expected) match {
      case None => (readBack(path, Some(out.schema), bucketed), false)
      case Some(winner) if winner == fingerprint =>
        // a concurrent run of the SAME job won the version race: adopt its
        // commit (the data dir is shared and content-identical)
        (readLive(), true)
      case Some(winner) =>
        throw new ConcurrentWriteException(stage, fingerprint, winner)
    }
  }

  /** Read committed stage files under their KNOWN schema: a bare
    * `spark.read.parquet` launches one footer-reading job per call to infer
    * it. Partition columns move last, where a partitioned read places them;
    * `None` (a legacy manifest without a schema) falls back to inference.
    */
  private def readCommitted(path: String, schema: Option[StructType],
      partitionBy: Seq[String]): DataFrame = schema match {
    case None => spark.read.parquet(path)
    case Some(s) =>
      val parts = partitionBy.flatMap(p => s.fields.find(_.name == p))
      spark.read.schema(StructType(s.fields.filterNot(parts.contains) ++ parts))
        .parquet(path)
  }

  private def deleteTree(p: Path): Unit = if (Files.exists(p))
    Using.resource(Files.walk(p))(
      _.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.deleteIfExists(f)))

  /** Force the next run of `stage` to recompute: drop its commit metadata
    * (the numbered log AND the mirror — deleting `_MANIFEST.json` alone no
    * longer invalidates, the log is authoritative). Data dirs stay on disk
    * for pinned snapshot readers; [[gcSnapshots]] collects them later.
    */
  def invalidateStage(stage: String): Unit = {
    deleteTree(versionsDir(stage))
    Files.deleteIfExists(manifestPath(stage))
  }

  /** Catalog table name for a bucketed stage — derived from the stage and
    * the base directory so two stores never collide in one session catalog.
    */
  def bucketedTableName(stage: String): String =
    s"graft_${stage}_${Integer.toHexString(baseDir.hashCode)}".replace('-', 'm')

  /** [[runStage]] for a BUCKETED stage: the output is written
    * `bucketBy(bucketCols).sortBy(sortCols)` and read back as a path-backed
    * catalog table with that bucket spec, pre-repartitioned to one shuffle
    * partition per bucket. Readers that cluster on a prefix of `bucketCols`
    * — the conv-keyed triples walk, the co-reference groupBy — then satisfy
    * their distribution straight off the scan: ONE exchange paid at write
    * time replaces one per downstream consumer (VERDICT r03 next-step #8).
    * Same commit sequence as [[runStage]] (inflight write, atomic rename,
    * CAS); every read-back re-points the table at the committed dir.
    */
  def runStageBucketed(
      stage: String, fingerprint: String,
      bucketCols: Seq[String], sortCols: Seq[String], nBuckets: Int,
      distinctOf: Option[String] = None,
      maxRecordsPerFile: Long = 0L,
      degreeOf: Option[String] = None)(compute: => DataFrame): (DataFrame, Boolean) =
    commit(stage, fingerprint, Nil, Some(Buckets(bucketCols, sortCols, nBuckets)),
      distinctOf, maxRecordsPerFile, degreeOf)(compute)

  // ---- run-level snapshots (second table-format property: snapshot ----
  // ---- isolation — VERDICT r04 next-step #7) ----

  private def snapshotsDir: Path = Paths.get(baseDir, "_snapshots")

  /** Names of the stages committed under the base directory. */
  private def stageNames(): Seq[String] = {
    val base = Paths.get(baseDir)
    if (!Files.exists(base)) Seq.empty
    else listDir(base)(_
      .filter(p => Files.isDirectory(p) && Files.exists(p.resolve("_MANIFEST.json")))
      .map(_.getFileName.toString).toSeq.sorted)
  }

  /** Atomically record the CURRENT committed version of every stage (its
    * fingerprint + versioned data dir) as one immutable snapshot file. A
    * reader that pins a snapshot ([[snapshotTable]]) keeps a consistent
    * cross-stage view even while a rerun commits stage by stage: reruns
    * write to NEW fingerprint-digest dirs and swap manifests — they never
    * touch a prior version's files (an identical fingerprint reuses its
    * dir, but identical fingerprint means identical content by the resume
    * contract). So "stage N+1's new data with stage N's old manifest" can
    * no longer be observed mid-rerun — the failure mode in-place
    * overwriting had.
    */
  def commitSnapshot(): String = {
    val id = s"snap-${System.currentTimeMillis()}-${System.nanoTime() % 1000000}"
    val body = stageNames().flatMap { st =>
      for (fp <- fingerprintOf(st); d <- dataDirOf(st))
        yield s""""$st":{"fingerprint":"${jsonEscape(fp)}","data":"$d"}"""
    }.mkString(",")
    val json =
      s"""{"id":"$id","created_at":${System.currentTimeMillis()},"stages":{$body}}"""
    Files.createDirectories(snapshotsDir)
    writeAtomic(snapshotsDir.resolve(s"$id.json"), json)
    id
  }

  /** Snapshot ids, oldest first. */
  def listSnapshots(): Seq[String] = {
    if (!Files.exists(snapshotsDir)) return Seq.empty
    listDir(snapshotsDir)(_
      .map(_.getFileName.toString)
      .filter(_.endsWith(".json"))
      .map(_.stripSuffix(".json")).toSeq.sorted)
  }

  /** The data dir a snapshot pinned for `stage` (relative to the stage). */
  def snapshotDataDirOf(snapshotId: String, stage: String): Option[String] = {
    val p = snapshotsDir.resolve(s"$snapshotId.json")
    if (!Files.exists(p)) return None
    val s = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
    // the stage's own entry: escaped values never hold a bare `"<stage>":{`
    val at = s.indexOf(s""""$stage":{""")
    if (at < 0) None else field(s.substring(at), "data")
  }

  /** Read `stage` AS OF `snapshotId` — pinned to the version dirs the
    * snapshot recorded, immune to later reruns (plain parquet read: bucket
    * metadata is a current-version optimization, not needed for a pinned
    * historical read).
    */
  def snapshotTable(snapshotId: String, stage: String): DataFrame = {
    val dir = snapshotDataDirOf(snapshotId, stage).getOrElse(
      throw new IllegalArgumentException(
        s"snapshot $snapshotId has no stage '$stage'"))
    spark.read.parquet(dataPathFor(stage, dir))
  }

  /** [[snapshotTable]] under the LIVE schema: columns added since the
    * snapshot (the additive evolution [[validateEvolution]] enforces) read
    * as null — old pinned data stays queryable by current-schema consumers.
    * With `evolveToCurrent = false`, identical to the 2-arg read.
    */
  def snapshotTable(snapshotId: String, stage: String,
      evolveToCurrent: Boolean): DataFrame = {
    val raw = snapshotTable(snapshotId, stage)
    if (!evolveToCurrent) return raw
    schemaOf(stage) match {
      case None => raw
      case Some(cur) =>
        val have = raw.schema.fieldNames.toSet
        import org.apache.spark.sql.functions.{col, lit}
        raw.select(cur.fields.map(f =>
          if (have.contains(f.name)) col(f.name)
          else lit(null).cast(f.dataType).as(f.name)).toIndexedSeq: _*)
    }
  }

  /** Read `stage` AS OF commit version `v` — the per-stage commit log
    * ([[readManifestVersion]]) names each version's immutable data dir, so
    * any un-GC'd version is readable (version-based time travel; snapshot
    * ids give the cross-stage variant).
    */
  def tableAsOfVersion(stage: String, v: Long): DataFrame = {
    val m = readManifestVersion(stage, v).getOrElse(
      throw new IllegalArgumentException(s"stage '$stage' has no version $v"))
    spark.read.parquet(dataPathFor(stage, field(m, "data").getOrElse("data")))
  }

  /** Garbage-collect retired stage versions: keep the newest
    * `keepSnapshots` snapshot files, then delete every `data-*` version
    * dir referenced by NEITHER a kept snapshot NOR a live stage manifest
    * (the legacy unversioned `data` dir is never touched). Retention is
    * the caller's policy — nothing expires implicitly; a reader pinned to
    * a KEPT snapshot is unaffected by construction.
    *
    * @return (snapshot files deleted, version dirs deleted)
    */
  def gcSnapshots(keepSnapshots: Int): (Int, Int) = {
    require(keepSnapshots >= 0)
    val all = listSnapshots()
    val (drop, keep) = all.splitAt(math.max(0, all.size - keepSnapshots))
    drop.foreach(id => Files.deleteIfExists(snapshotsDir.resolve(s"$id.json")))
    var removedDirs = 0
    stageNames().foreach { st =>
      val referenced =
        dataDirOf(st).toSet ++ keep.flatMap(id => snapshotDataDirOf(id, st))
      listDir(Paths.get(baseDir, st))(_
        .filter(p => Files.isDirectory(p) &&
          (p.getFileName.toString.startsWith(".inflight-") || // crashed writes
            p.getFileName.toString.startsWith("data-")) &&
          !referenced.contains(p.getFileName.toString))
        .toSeq) // materialize before mutating the directory stream's source
        .foreach { dir =>
          deleteTree(dir)
          removedDirs += 1
        }
    }
    (drop.size, removedDirs)
  }
}
