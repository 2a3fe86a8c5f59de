package graft

import org.scalatest.funsuite.AnyFunSuite

/** Dev tool: dump formatted plans for plan-shape inspection, and count
  * the Spark jobs each surface starts while it builds on the test pack
  * (a second build, after the first warmed the table memos) — 0 for a
  * lazy surface. A module, so test discovery never runs it as a suite.
  * Run: sbt "Test/runMain graft.PlanProbe q3_join trace_span_buffer" */
object PlanProbe extends AnyFunSuite with SparkTestBase {
  def main(args: Array[String]): Unit = {
    val names = if (args.nonEmpty) args.toSeq else Seq("q3_join")
    names.foreach { n =>
      println(s"\n===================== $n =====================")
      SparkEntry.allDefs(n).fn(spark, "/root/testdata/sf0.01").explain("formatted")
      SparkEntry.allDefs(n).fn(spark, sfDir)
      println(s"[probe] $n build jobs: ${jobsDuring(SparkEntry.allDefs(n).fn(spark, sfDir))}")
    }
    spark.stop()
  }
}
