package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The snapshot table's metadata files are named, parsed and written only
  * in `table/TableFormat.scala`: no other main source names a manifest
  * (`snap-`) or TABLE_META, and no other source of the table's layers
  * (`table/`, `connector/`) holds a Jackson `ObjectMapper`. A second
  * reader or writer of the format is then an explicit edit of this spec. */
class FormatBoundarySpec extends AnyFunSuite {

  test("only table/TableFormat.scala names or parses the table's metadata files") {
    val root = Paths.get("src/main/scala")
    val format = root.resolve("graft/table/TableFormat.scala")
    val sources: Seq[Path] = Files.walk(root).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p != format).toSeq
    assert(sources.size > 40 && Files.isRegularFile(format))
    val layers = Seq("graft/table/", "graft/connector/").map(root.resolve)
    val offenders = for {
      f <- sources
      text = Files.readString(f)
      token <- Seq("snap-", "TABLE_META") ++
        (if (layers.exists(f.startsWith)) Seq("ObjectMapper") else Nil)
      if text.contains(token)
    } yield s"$f: $token"
    assert(offenders.isEmpty, offenders.mkString("; "))
  }
}
