package graft

import java.io.File
import java.nio.file.{Files, Paths}

/** The process's one scratch space: every temp directory graft writes
  * (layouts materialized once per sf dir, streaming sinks and
  * checkpoints, the default index store) lives under one per-process
  * root, `graft_scratch_*` in `java.io.tmpdir`. The root is created on
  * first use and deleted, best effort, by one shutdown hook — so a
  * bench, verify or test JVM leaves no `graft_*` directory behind, and
  * nothing a run writes survives it (every invocation computes from
  * its parquet inputs alone). */
object Scratch {

  lazy val root: String = {
    val d = Files.createTempDirectory("graft_scratch_").toFile
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: File): Unit = {
        val kids = f.listFiles(); if (kids != null) kids.foreach(rm)
        f.delete(): Unit
      }
      try rm(d) catch { case _: Throwable => () }
    }, "graft-scratch-cleanup"))
    d.getAbsolutePath
  }

  /** A new empty directory under the root, named `<prefix><random>`. */
  def fresh(prefix: String): String =
    Files.createTempDirectory(Paths.get(root), prefix).toString

  private val written =
    new java.util.concurrent.ConcurrentHashMap[(String, String), String]()

  /** The directory `write` filled for (prefix, sf dir): written into a
    * [[fresh]] directory on the first call in this JVM, returned as is
    * on every later one. */
  def once(prefix: String, dir: String)(write: String => Unit): String =
    written.computeIfAbsent((prefix, dir), _ => {
      val d = fresh(prefix)
      write(d)
      d
    })
}
