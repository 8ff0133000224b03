package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** README.md's "Running" block names exactly the files under
  * `src/main/scala/graft/tools/` — a deleted tool cannot linger in the
  * docs and a new one cannot go unlisted. Reads both relative to the
  * build's base directory (the forked test JVM's working directory). */
class ReadmeToolsSpec extends AnyFunSuite {
  test("README runMain list matches the graft.tools sources") {
    val readme = Files.readString(Paths.get("README.md"))
    val listed = """runMain graft\.tools\.(\w+)""".r
      .findAllMatchIn(readme).map(_.group(1)).toSet
    val stream = Files.list(Paths.get("src/main/scala/graft/tools"))
    val sources =
      try stream.iterator().asScala
        .map(_.getFileName.toString.stripSuffix(".scala")).toSet
      finally stream.close()
    assert(sources.nonEmpty, "no graft.tools sources found")
    assert(listed == sources,
      s"README only: ${(listed -- sources).mkString(", ")}; " +
        s"sources only: ${(sources -- listed).mkString(", ")}")
  }
}
