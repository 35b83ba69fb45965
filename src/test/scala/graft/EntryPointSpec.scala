package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.scalatest.funsuite.AnyFunSuite

/** Operators persist through a [[CacheScope]]; none hands its caches back
  * as a positional `Seq[DataFrame]` beside its result.
  */
class EntryPointSpec extends AnyFunSuite {

  test("no public graft object method returns a cache-handle tuple but buildTracked") {
    val ds = "org.apache.spark.sql.Dataset<org.apache.spark.sql.Row>"
    val handles = s"scala.collection.immutable.Seq<$ds>"
    val handleTuples = Set(s"scala.Tuple2<$ds, $handles>", s"scala.Tuple3<$ds, $ds, $handles>")
    val classes = Paths.get(classOf[CacheScope].getProtectionDomain.getCodeSource.getLocation.toURI)
    val objects = Using.resource(Files.walk(classes))(_.iterator.asScala
      .map(classes.relativize(_).toString)
      .filter(n => n.startsWith("graft/") && n.endsWith("$.class"))
      .map(_.stripSuffix(".class").replace('/', '.')).toList)
    assert(objects.contains("graft.ops.Dedup$"), s"no graft objects under $classes")
    val found = for {
      name <- objects
      m <- Class.forName(name, false, getClass.getClassLoader).getMethods
      if handleTuples(m.getGenericReturnType.getTypeName)
    } yield s"${name.stripSuffix("$")}.${m.getName}"
    // the one kept for callers compiled against it
    assert(found.toSet == Set("graft.index.EntityIndexBuilder.buildTracked"),
      s"cache-handle tuples returned by: $found")
  }
}
