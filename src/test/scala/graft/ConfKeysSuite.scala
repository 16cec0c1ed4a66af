package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** The engine's session-conf surface, read from its sources: every
  * `"graft.…"` string literal in `src/main/scala`. Each such key is a
  * switch the oracle would have to cover in both positions, so a new one
  * fails here until it is added on purpose. Needs no Spark session. */
class ConfKeysSuite extends AnyFunSuite {

  test("library code reads exactly two graft.* session confs") {
    val key = "\"(graft\\.[A-Za-z0-9_.]+)\"".r
    val files = SourceTree.scalaFiles(SourceTree.mainScala)
    assert(files.size > 50, s"scanned too few sources: ${files.size}")
    val keys = files.flatMap { f =>
      key.findAllMatchIn(Files.readString(f)).map(m => (m.group(1), s"${f.getFileName}"))
    }
    assert(keys.map(_._1).toSet == Set("graft.checkpoint.dir", "graft.grid.maxDistinct"),
      s"graft.* conf keys in src/main/scala: ${keys.distinct.sorted.mkString(", ")}")
  }
}
