package graft

import java.io.File
import java.nio.file.Files

import scala.jdk.CollectionConverters._

/** The engine's source as the source-reading specs see it. */
object MainSources {

  private val root = new File("src/main/scala")

  /** (path under src/main/scala, source without comment lines or trailing
    * comments) for every Scala file. */
  lazy val code: Seq[(String, String)] = {
    assert(root.isDirectory, s"run from the repository root: ${root.getAbsolutePath}")
    Files.walk(root.toPath).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
      .map { p =>
        val code = Files.readAllLines(p).asScala
          .filterNot(_.matches("""^\s*(//|\*|/\*).*"""))
          .map(_.replaceAll("""\s//.*$""", ""))
        root.toPath.relativize(p).toString.replace('\\', '/') -> code.mkString("\n")
      }
  }
}
