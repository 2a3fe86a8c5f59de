package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import scala.util.Using

/** Source lints: where a pattern occurs in this build's Scala code. */
object SourceLint {

  private lazy val buildRoot: Path =
    Iterator.iterate(Paths.get("").toAbsolutePath)(_.getParent)
      .takeWhile(_ != null).take(8)
      .find(d => Files.exists(d.resolve("build.sbt")))
      .getOrElse(throw new IllegalStateException(
        "no build.sbt found walking up from CWD — cannot locate the sources"))

  /** Every `.scala` file under `src/<tree>/scala` with its code, block
    * and line comments stripped so Scaladoc mentions don't count. */
  def code(tree: String): List[(Path, String)] = {
    val root = buildRoot.resolve(s"src/$tree/scala")
    require(Files.isDirectory(root), s"no source tree at $root")
    Using.resource(Files.walk(root)) { walk =>
      walk.iterator().asScala
        .filter(_.toString.endsWith(".scala"))
        .map(p => p -> Files.readString(p)
          .replaceAll("(?s)/\\*.*?\\*/", "").replaceAll("(?m)//.*$", ""))
        .toList
    }
  }

  /** The file of every match of `pattern` in [[code]], one entry per
    * match. */
  def sites(tree: String, pattern: String): List[Path] =
    code(tree).flatMap { case (p, c) => pattern.r.findAllIn(c).map(_ => p) }
}
