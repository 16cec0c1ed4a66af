package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** This checkout's sources, for the suites that scan them with no Spark
  * session. */
object SourceTree {

  /** `src/main/scala`: found from the working directory or, failing that,
    * from where the test classes were loaded. */
  def mainScala: Path = {
    val starts = Seq(Paths.get(sys.props("user.dir")),
      Paths.get(getClass.getProtectionDomain.getCodeSource.getLocation.toURI))
    starts.iterator
      .flatMap(s => Iterator.iterate(s.toAbsolutePath)(_.getParent)
        .takeWhile(_ != null))
      .map(_.resolve("src/main/scala"))
      .find(Files.isDirectory(_))
      .getOrElse(throw new IllegalStateException(
        s"no src/main/scala above ${starts.mkString(", ")}"))
  }

  /** Every `.scala` file under `dir`, at any depth. */
  def scalaFiles(dir: Path): List[Path] = {
    val walk = Files.walk(dir)
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }
}
