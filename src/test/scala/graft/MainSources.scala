package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Source scans over `src/main/scala` of this checkout, for guards that
  * pin a mechanism to its one home. */
object MainSources {
  /** `src/main/scala`, found by walking up from the compiled test
    * classes. */
  lazy val root: Path = {
    var dir = Paths.get(getClass.getResource("/wordcount").toURI)
    while (dir != null && !Files.isDirectory(dir.resolve("src/main/scala")))
      dir = dir.getParent
    assert(dir != null, "src/main/scala not found above the test classes")
    dir.resolve("src/main/scala")
  }

  /** Paths (relative to [[root]], `/`-separated) of the `.scala` files
    * whose text contains `needle`. */
  def containing(needle: String): Seq[String] =
    Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filter(p => new String(Files.readAllBytes(p), "UTF-8").contains(needle))
      .map(p => root.relativize(p).toString.replace('\\', '/')).toSeq.sorted
}
