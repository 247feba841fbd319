package graft

import org.scalatest.funsuite.AnyFunSuite

/** Child-JVM entry point: creates op-gate scratch warehouse directories,
  * prints their paths and exits, so the JVM's shutdown hooks run.
  */
object OpsScratchChild {
  def main(args: Array[String]): Unit =
    (1 to 3).foreach(_ => println(graft.queries.OpsQueries.tmpWarehouseDir()))
}

/** The op gates' scratch warehouses live under one per-JVM parent that a
  * shutdown hook removes: a JVM that created them leaves none behind.
  */
class OpsScratchSpec extends AnyFunSuite {

  test("op-gate scratch warehouses are removed when their JVM exits") {
    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    val proc = new ProcessBuilder(javaBin, "-Xmx64m",
        "-cp", System.getProperty("java.class.path"),
        "graft.OpsScratchChild")
      .redirectErrorStream(true).start()
    val out = scala.io.Source.fromInputStream(proc.getInputStream)
      .getLines().toVector
    assert(proc.waitFor() == 0, out.mkString("\n"))
    val dirs = out.map(java.nio.file.Paths.get(_))
    assert(dirs.size == 3, out.mkString("\n"))
    val parents = dirs.map(_.getParent).distinct
    assert(parents.size == 1, s"scratch dirs under several parents: $parents")
    (dirs ++ parents).foreach(d =>
      assert(!java.nio.file.Files.exists(d), s"$d survived its JVM"))
  }
}
