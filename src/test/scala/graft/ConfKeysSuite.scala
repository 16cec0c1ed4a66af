package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The engine's session-conf surface, read from its sources: every
  * `"graft.…"` string literal in `src/main/scala`. Each such key is a
  * switch the oracle would have to cover in both positions, so a new one
  * fails here until it is added on purpose. Needs no Spark session. */
class ConfKeysSuite extends AnyFunSuite {

  /** `src/main/scala` of this checkout: found from the working directory
    * or, failing that, from where the test classes were loaded. */
  private def mainSources: Path = {
    val starts = Seq(Paths.get(sys.props("user.dir")),
      Paths.get(getClass.getProtectionDomain.getCodeSource.getLocation.toURI))
    starts.iterator
      .flatMap(s => Iterator.iterate(s.toAbsolutePath)(_.getParent)
        .takeWhile(_ != null))
      .map(_.resolve("src/main/scala"))
      .find(Files.isDirectory(_))
      .getOrElse(fail(s"no src/main/scala above ${starts.mkString(", ")}"))
  }

  test("library code reads exactly two graft.* session confs") {
    val key = "\"(graft\\.[A-Za-z0-9_.]+)\"".r
    val walk = Files.walk(mainSources)
    val files = try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    assert(files.size > 50, s"scanned too few sources: ${files.size}")
    val keys = files.flatMap { f =>
      key.findAllMatchIn(Files.readString(f)).map(m => (m.group(1), s"${f.getFileName}"))
    }
    assert(keys.map(_._1).toSet == Set("graft.checkpoint.dir", "graft.grid.maxDistinct"),
      s"graft.* conf keys in src/main/scala: ${keys.distinct.sorted.mkString(", ")}")
  }
}
