package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Tooling guard: every session is built through `GraftSession`, so no
  * drifted copy of its settings can come back. Paths are relative to the
  * project root, the test JVM's working directory.
  */
class SessionGuardSpec extends AnyFunSuite {
  private def filesBuildingSessions(root: String): Seq[String] = {
    val dir = Paths.get(root)
    assert(Files.isDirectory(dir), s"$root not found")
    val walk = Files.walk(dir)
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala"))
      .filter(Files.readString(_).contains("SparkSession" + ".builder"))
      .map(dir.relativize(_).toString).toSeq.sorted
    finally walk.close()
  }

  test("a Spark session is built only inside GraftSession: nowhere else in src/main or src/test") {
    assert(filesBuildingSessions("src/main/scala") === Seq("graft/GraftSession.scala"))
    assert(filesBuildingSessions("src/test/scala") === Seq.empty)
  }
}
