package graft.io

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.reflect.ClassTag

import com.fasterxml.jackson.annotation.JsonInclude
import com.fasterxml.jackson.databind.DeserializationFeature
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** The one JSON codec of the table layer's files — stage manifests, snapshot
  * files and `_LAYOUT.json`. Each file holds one typed record (a case class
  * whose field names are the on-disk names). Absent optional fields are
  * omitted on write and read back as `None`; unknown fields are ignored, so
  * a record a newer writer extended still reads.
  */
private[io] object TableJson {

  // built once per JVM: a cold mapper costs ~0.6 s
  private lazy val mapper = JsonMapper.builder()
    .addModule(DefaultScalaModule)
    .defaultPropertyInclusion(
      JsonInclude.Value.empty().withValueInclusion(JsonInclude.Include.NON_ABSENT))
    .disable(DeserializationFeature.FAIL_ON_UNKNOWN_PROPERTIES)
    .build()

  def bytes(record: AnyRef): Array[Byte] = mapper.writeValueAsBytes(record)

  def parse[A](json: String)(implicit ct: ClassTag[A]): A =
    mapper.readValue(json, ct.runtimeClass.asInstanceOf[Class[A]])

  def read[A: ClassTag](p: Path): A = parse[A](Files.readString(p))

  /** Write `record` to `target` through a sibling temp file and one atomic rename. */
  def writeAtomic(target: Path, record: AnyRef): Unit = {
    val tmp = target.resolveSibling(s"${target.getFileName}.tmp")
    Files.write(tmp, bytes(record))
    Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }
}
