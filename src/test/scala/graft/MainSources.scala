package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** Source guards' reader of the program's own code. */
object MainSources {

  /** The files under src/main/scala whose text contains `needle`,
    * relative to it. */
  def filesWith(needle: String): Seq[String] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the project root: $root")
    val walk = Files.walk(root)
    try walk.iterator.asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .filter(p => new String(Files.readAllBytes(p), UTF_8).contains(needle))
      .map(p => root.relativize(p).toString).toSeq.sorted
    finally walk.close()
  }
}
