package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.cli.{KgEntitiesMain, KgPropertiesMain}
import graft.model.{RawEntity, RawProperty}
import graft.oracle.ReferenceOracle
import graft.parse.{Kg, ParseKit}

/** End-to-end CLI parity: synthetic Wikidata-shaped TSV dumps in →
  * index.tsv / prefixes.tsv / redirects.tsv / inverse file out,
  * line-set-identical to goldens derived from the plain-Scala
  * [[ReferenceOracle]] transcription of the Rust binaries (within-line
  * category order = the `Ent`/`Prop` lattices; within a category our order is
  * surface-sorted — the reference's is hash-map order, i.e. unspecified).
  */
class CliParitySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  def writeLines(path: String, lines: Seq[String]): String = {
    Files.write(Paths.get(path), String.join("\n", lines: _*).getBytes("UTF-8"))
    path
  }

  def readLines(dir: String): Set[String] = {
    val d = new java.io.File(dir)
    d.listFiles().filter(_.getName.startsWith("part-")).flatMap { f =>
      scala.io.Source.fromFile(f).getLines()
    }.toSet
  }

  val entDump: Seq[String] = {
    def iri(q: Int) = s"<http://www.wikidata.org/entity/Q$q>"
    Seq(
      "?ent\t?name\t?desc\t?links\t?types\t?aliases",
      // Q1/Q2 collide on label "apple" → label+info resolution
      s"${iri(1)}\t\"apple\"@en\t\"a fruit\"@en\t50\t${iri(9)}\t\"pomme; appel\"",
      s"${iri(2)}\t\"apple\"@en\t\"a company\"@en\t90\t${iri(8)}\t\"big apple\"",
      // Q3: unique label, unique alias
      s"${iri(3)}\t\"banana\"@en\t\"fruit\"@en\t30\t${iri(9)}\t\"nana\"",
      // Q8/Q9: the type entities themselves
      s"${iri(8)}\t\"company\"@en\t\"org\"@en\t500\t\t",
      s"${iri(9)}\t\"fruit\"@en\t\"food\"@en\t200\t\t",
      // popular-alias override: Q4's label "pear" is Q5's unique alias, Q5 more popular
      s"${iri(4)}\t\"pear\"@en\t\"fruit\"@en\t10\t${iri(9)}\t",
      s"${iri(5)}\t\"pyrus\"@en\t\"genus\"@en\t400\t${iri(9)}\t\"pear\"",
      // malformed rows: bad IRI, non-numeric count → silently dropped
      "<http://example.org/Q6>\t\"junk\"@en\t\"x\"@en\t5\t\t",
      s"${iri(7)}\t\"seven\"@en\t\"x\"@en\tNaN\t\t")
  }

  val redirectDump: Seq[String] = Seq(
    "<http://www.wikidata.org/entity/Q1>\t<http://www.wikidata.org/entity/Q11>; <http://www.wikidata.org/entity/Q12>",
    "<http://www.wikidata.org/entity/Q999>\t<http://www.wikidata.org/entity/Q998>")

  def shortQ(fullIri: String): String =
    "wd:" + "Q\\d+".r.findFirstIn(fullIri).get

  test("kg-entities CLI: outputs line-set-identical to reference-oracle goldens") {
    val dir = Files.createTempDirectory("cli-ents").toString
    val file = writeLines(s"$dir/ents.tsv", entDump)
    val rfile = writeLines(s"$dir/redirects.tsv", redirectDump)
    val out = s"$dir/out"
    // one run releases every cache it made: the index's and the builder's
    CacheChecks.assertReleased {
      KgEntitiesMain.run(spark, KgEntitiesMain.CliArgs(
        file = file, output = out, kb = "wikidata", redirects = Some(rfile),
        keepMostCommonNonUnique = true, checkForPopularAliases = true,
        shortEntities = true))
    }

    // golden: oracle over the SAME parsed rows
    val raw = graft.sources.TsvLoader.loadEntities(spark, file)
    val parsed = ParseKit.parseEntities(raw, Kg.Wikidata, ignoreTypes = false)
      .collect().map(r => RawEntity(r.getString(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getSeq[String](4), r.getSeq[String](5), r.getLong(6))).toSeq
    assert(parsed.size == 7, "malformed rows must be dropped")
    val oracle = ReferenceOracle.entityIndex(parsed, ReferenceOracle.Config())
    val goldenIndex = oracle.groupBy(_.id).map { case (id, entries) =>
      val rendered = entries.toSeq
        .map(e => (e.kind, e.info.map(i => s"${e.surface} ($i)").getOrElse(e.surface)))
        .sorted.map(_._2)
      (shortQ(id) +: rendered).mkString("\t")
    }.toSet
    assert(readLines(s"$out/index.tsv") == goldenIndex)

    assert(readLines(s"$out/prefixes.tsv") ==
      Set("wd:\thttp://www.wikidata.org/entity/"))

    // redirects: only ids IN the index, formatted; Q999 has no index entry
    val gotRedirects = readLines(s"$out/redirects.tsv")
    assert(gotRedirects == Set("wd:Q1\twd:Q11\twd:Q12"))
  }

  val propDump: Seq[String] = Seq(
    "?p\t?label\t?count\t?aliases\t?invs",
    // P1/P2 collide on label "spouse": higher count wins
    "<http://www.wikidata.org/entity/P1>\t\"spouse\"@en\t100\t\"wife; husband\"\t<http://www.wikidata.org/entity/P1>",
    "<http://www.wikidata.org/entity/P2>\t\"spouse\"@en\t40\t\"partner\"\t",
    // P3 unique; alias "wife" is globally duplicated? no — held once by P1;
    // give P3 an alias colliding with P1's "husband" to test ambiguity drop
    "<http://www.wikidata.org/entity/P3>\t\"child\"@en\t70\t\"husband; kid\"\t<http://www.wikidata.org/entity/P4>; <http://www.wikidata.org/entity/P5>",
    // malformed: bad count
    "<http://www.wikidata.org/entity/P9>\t\"bad\"@en\tx\t\t")

  test("kg-properties CLI: base + qualifier + inverse outputs match oracle goldens") {
    val dir = Files.createTempDirectory("cli-props").toString
    val file = writeLines(s"$dir/props.tsv", propDump)
    val out = s"$dir/out"
    val inv = s"$dir/inverse.tsv"
    KgPropertiesMain.run(spark, KgPropertiesMain.CliArgs(
      file = file, output = out, kb = "wikidata", inverseOutput = Some(inv),
      shortProperties = true, includeWikidataQualifiers = true))

    val raw = graft.sources.TsvLoader.loadProperties(spark, file)
    val parsed = ParseKit.parseProperties(raw, Kg.Wikidata)
      .collect().map(r => RawProperty(r.getString(0), r.getString(1), r.getLong(2),
        r.getSeq[String](3), r.getSeq[String](4), r.getLong(5))).toSeq
    assert(parsed.size == 3, "malformed property rows must be dropped")
    val oracle = ReferenceOracle.propertyIndex(parsed) // (surface, pid, kind)
    def shortP(full: String) = "wdt:" + "P\\d+".r.findFirstIn(full).get
    val byPid = oracle.groupBy(_._2)
    val baseLines = byPid.map { case (pid, entries) =>
      val surfaces = entries.toSeq.map(e => (e._3, e._1)).sorted.map(_._2)
      (shortP(pid) +: surfaces).mkString("\t")
    }.toSet
    val qualLines = byPid.flatMap { case (pid, entries) =>
      val surfaces = entries.toSeq.map(e => (e._3, e._1)).sorted.map(_._2)
      Seq("p", "pq", "pqn", "ps", "psn").zip(Seq(
        "statement", "qualifier", "normalized qualifier", "value",
        "normalized value")).map { case (pfx, suffix) =>
        val p = "P\\d+".r.findFirstIn(pid).get
        (s"$pfx:$p" +: surfaces.map(s => s"$s ($suffix)")).mkString("\t")
      }
    }.toSet
    assert(readLines(s"$out/index.tsv") == baseLines ++ qualLines)

    assert(readLines(s"$out/prefixes.tsv") ==
      Kg.Wikidata.propertyPrefixes.map { case (s, l) => s"$s\t$l" }.toSet)

    // inverse file: only pids in the index (P1 and P3 made it; P2 lost its label)
    val gotInv = readLines(inv)
    assert(gotInv == Set("wdt:P1\twdt:P1", "wdt:P3\twdt:P4", "wdt:P3\twdt:P5"))
  }

  test("long-form (default) entity CLI output keeps full IRIs") {
    val dir = Files.createTempDirectory("cli-long").toString
    val file = writeLines(s"$dir/ents.tsv", entDump)
    val out = s"$dir/out"
    KgEntitiesMain.run(spark, KgEntitiesMain.CliArgs(
      file = file, output = out, kb = "wikidata",
      keepMostCommonNonUnique = true, checkForPopularAliases = true,
      shortEntities = false))
    val lines = readLines(s"$out/index.tsv")
    assert(lines.forall(_.startsWith("http://www.wikidata.org/entity/Q")))
  }
}
