package graft.cli

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.CacheScope
import graft.index.{EntityIndexBuilder, EntityIndexConfig, IndexSinks, IndexStats}
import graft.parse.{Kg, ParseKit}
import graft.sources.TsvLoader

/** Reference-parity CLI: the `kg-entities` binary
  * (`/root/reference/src/bin/kg-entities.rs:17-50`) re-expressed as a Spark
  * driver — TSV dump in, `index.tsv` / `prefixes.tsv` / `redirects.tsv` out,
  * same flags, same file contents (modulo row order, which the reference's
  * rayon writer does not fix either; within-line ordering matches the `Ent`
  * lattice, and within a kind ours is surface-sorted where the reference's is
  * hash-map-ordered).
  *
  * Flags (long form):
  *   --file F --output DIR --knowledge-base {wikidata|freebase|dbpedia}
  *   [--redirects F] [--ignore-types] [--keep-most-common-non-unique]
  *   [--check-for-popular-aliases] [--short-entities] [--progress (ignored)]
  */
object KgEntitiesMain {

  final case class CliArgs(
      file: String = "", output: String = "", kb: String = "",
      redirects: Option[String] = None, ignoreTypes: Boolean = false,
      keepMostCommonNonUnique: Boolean = false,
      checkForPopularAliases: Boolean = false, shortEntities: Boolean = false)

  def parseArgs(argv: Array[String]): CliArgs = {
    var a = CliArgs()
    var i = 0
    while (i < argv.length) {
      argv(i) match {
        case "--file" | "-f" => a = a.copy(file = argv(i + 1)); i += 2
        case "--output" | "-o" => a = a.copy(output = argv(i + 1)); i += 2
        case "--knowledge-base" | "-k" => a = a.copy(kb = argv(i + 1)); i += 2
        case "--redirects" | "-r" => a = a.copy(redirects = Some(argv(i + 1))); i += 2
        case "--ignore-types" | "-i" => a = a.copy(ignoreTypes = true); i += 1
        case "--keep-most-common-non-unique" =>
          a = a.copy(keepMostCommonNonUnique = true); i += 1
        case "--check-for-popular-aliases" =>
          a = a.copy(checkForPopularAliases = true); i += 1
        case "--short-entities" | "-s" => a = a.copy(shortEntities = true); i += 1
        case "--progress" | "-p" => i += 1 // accepted, no-op (Spark UI instead)
        case other => throw new IllegalArgumentException(s"unknown flag: $other")
      }
    }
    require(a.file.nonEmpty && a.output.nonEmpty && a.kb.nonEmpty,
      "--file, --output and --knowledge-base are required")
    a
  }

  def kgOf(name: String): Kg = Kg.all.find(_.name == name)
    .getOrElse(throw new IllegalArgumentException(
      s"unknown knowledge base '$name' (expected ${Kg.all.map(_.name).mkString("/")})"))

  /** The full flow, separated from `main` for in-process testing. */
  def run(spark: SparkSession, a: CliArgs): Unit = {
    val kg = kgOf(a.kb)
    val raw = TsvLoader.loadEntities(spark, a.file)
    val ents = ParseKit.parseEntities(raw, kg, a.ignoreTypes)
    val cfg = EntityIndexConfig(a.ignoreTypes, a.keepMostCommonNonUnique,
      a.checkForPopularAliases)
    // the builder's caches and the index cache, released after the stats
    val caches = new CacheScope
    val index = caches.persist(
      EntityIndexBuilder.build(ents, caches, cfg, persistInput = !cfg.ignoreTypes))

    def fmt(c: org.apache.spark.sql.Column) = ParseKit.formatEntity(kg, c, a.shortEntities)
    val formatted = index.withColumn("id", fmt(col("id")))
    IndexSinks.writeLines(IndexSinks.entityIndexLines(formatted).coalesce(1),
      s"${a.output}/index.tsv")
    IndexSinks.writeLines(IndexSinks.prefixLines(kg, spark, entities = true).coalesce(1),
      s"${a.output}/prefixes.tsv")

    a.redirects.foreach { path =>
      val redirects = TsvLoader.loadRedirects(spark, path, kg.entPattern)
      // the reference writes redirects only for ids that made the index
      // (it iterates output_dict, kg-entities.rs:389-396)
      val inIndex = redirects.join(index.select(col("id").as("qid")).distinct(),
        Seq("qid"), "left_semi")
        .select(fmt(col("qid")).as("qid"),
          transform(col("redirects"), x => fmt(x)).as("redirects"))
      IndexSinks.writeLines(IndexSinks.redirectLines(inIndex).coalesce(1),
        s"${a.output}/redirects.tsv")
    }

    // S9: the reference's stdout coverage stats
    IndexStats.entityStats(spark, index, ents).collect().foreach { r =>
      println(f"${r.getString(0)}%-26s ${r.getDouble(1)}%.2f")
    }
    caches.close()
  }

  def main(argv: Array[String]): Unit = {
    val a = parseArgs(argv)
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .appName("kg-entities")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    run(spark, a)
    spark.stop()
  }
}
