package graft

import org.scalatest.funspec.AnyFunSpec
import org.scalatest.matchers.should.Matchers

/** Ratchets the eager `localCheckpoint()` calls in src/main: bounded
  * iterations run as one-task kernels (GraphOps.inOneTask), so a new
  * per-round checkpoint chain shows up here. Lower the ceiling when a
  * change removes more. */
class CheckpointLintSpec extends AnyFunSpec with Matchers {

  private val call = """\.localCheckpoint\(\)"""

  describe("eager localCheckpoint calls") {
    it("stay at or below 38 in src/main") {
      SourceLint.sites("main", call).size should be <= 38
    }

    it("occur in GraphOps only inside connectedComponents") {
      val inGraphOps = SourceLint.sites("main", call)
        .count(_.getFileName.toString == "GraphOps.scala")
      val graphOps = SourceLint.code("main")
        .collectFirst { case (p, c) if p.getFileName.toString == "GraphOps.scala" => c }
        .getOrElse(fail("GraphOps.scala not found"))
      val from = graphOps.indexOf("def connectedComponents")
      from should be >= 0
      val body = graphOps.substring(from, graphOps.indexOf("def ", from + 4))
      call.r.findAllIn(body).size shouldBe inGraphOps
    }
  }
}
