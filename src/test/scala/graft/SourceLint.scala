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

  /** The file of every match of `pattern` in the `.scala` files under
    * `src/<tree>/scala`, one entry per match; block and line comments
    * are stripped first so Scaladoc mentions don't count. */
  def sites(tree: String, pattern: String): List[Path] = {
    val root = buildRoot.resolve(s"src/$tree/scala")
    require(Files.isDirectory(root), s"no source tree at $root")
    Using.resource(Files.walk(root)) { walk =>
      walk.iterator().asScala
        .filter(_.toString.endsWith(".scala"))
        .flatMap { p =>
          val code = Files.readString(p)
            .replaceAll("(?s)/\\*.*?\\*/", "").replaceAll("(?m)//.*$", "")
          pattern.r.findAllIn(code).map(_ => p)
        }.toList
    }
  }
}
