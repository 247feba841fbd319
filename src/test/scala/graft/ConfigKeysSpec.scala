package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The session keys the program reads are exactly the ones README
  * "Configuration" documents: a new `spark.graft.*` key must be
  * documented there, and a removed one dropped from it.
  */
class ConfigKeysSpec extends AnyFunSuite {

  private val Key = """spark\.graft\.[A-Za-z0-9_.]*[A-Za-z0-9]""".r

  private def repoRoot: Path =
    Iterator.iterate(Paths.get(sys.props("user.dir")).toAbsolutePath)(_.getParent)
      .takeWhile(_ != null)
      .find(p => Files.isDirectory(p.resolve("src/main")) &&
        Files.isRegularFile(p.resolve("README.md")))
      .getOrElse(fail("no checkout root above the working directory"))

  private def read(p: Path): String =
    new String(Files.readAllBytes(p), StandardCharsets.UTF_8)

  test("every spark.graft key in src/main is a README Configuration row, " +
    "and every row is read by src/main") {
    val root = repoRoot
    val walk = Files.walk(root.resolve("src/main"))
    val inCode = try walk.iterator.asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .flatMap(p => Key.findAllIn(read(p))).toSet
    finally walk.close()
    val readme = read(root.resolve("README.md"))
    val section = readme.substring(readme.indexOf("## Configuration"))
    val table = section.substring(0, section.indexOf("\n## ", 3))
      .linesIterator.filter(_.startsWith("| `spark.graft."))
    val documented = table.map(l => Key.findFirstIn(l).get).toSet
    assert(inCode == documented,
      s"\nread but undocumented: ${(inCode -- documented).toSeq.sorted}" +
        s"\ndocumented but not read: ${(documented -- inCode).toSeq.sorted}")
    assert(inCode.size == 14, s"${inCode.size} keys: ${inCode.toSeq.sorted}")
  }
}
