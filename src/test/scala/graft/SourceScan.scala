package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Using

/** Line scan of the main sources, for specs that keep a decision in the
  * one file that owns it. */
object SourceScan {

  /** `path:line` of every line of src/main/scala that `hit` accepts,
    * outside the file named `owner`. */
  def outside(owner: String)(hit: String => Boolean): List[String] = {
    val root = Paths.get("src/main/scala")
    require(Files.isDirectory(root), s"no sources at ${root.toAbsolutePath}")
    Using.resource(Files.walk(root)) { paths =>
      paths.iterator.asScala
        .filter(p => p.toString.endsWith(".scala") && p.getFileName.toString != owner)
        .flatMap(p => Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if hit(line) => s"$p:${i + 1}"
        })
        .toList
    }
  }
}
