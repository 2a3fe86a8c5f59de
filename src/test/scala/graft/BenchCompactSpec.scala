package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the r7 lesson: the bench compact line must stay under the
  * driver's ~1.9 KB stdout tail window even when EVERY surface errors
  * (64 analysis failures made BENCH_r07 parsed:null because the error
  * map was emitted whole while only the query map degraded). */
class BenchCompactSpec extends AnyFunSuite {

  private val manyErrors = (1 to 60).map { i =>
    f"warm:trace_surface_$i%03d" ->
      ("[DATATYPE_MISMATCH.BINARY_OP_DIFF_TYPES] Cannot resolve \"(ts div 1000)\" due to" +
        " data type mismatch: the left and right operands have incompatible types " +
        "(\"TIMESTAMP_NTZ\" and \"BIGINT\") SQLSTATE: 42K09")
  }

  test("60 errors compact to a bounded, budget-safe JSON object") {
    val json = Bench.compactErrJson(manyErrors)
    assert(json.length < 600, s"compact error map too big: ${json.length} chars")
    assert(json.contains("\"n_errors\": 60"))
    // first entries survive (with clipped messages), later ones are cut
    assert(json.contains("trace_surface_001"))
    assert(!json.contains("trace_surface_006"))
  }

  test("small error maps keep every entry plus the count") {
    val json = Bench.compactErrJson(manyErrors.take(2))
    assert(json.contains("trace_surface_001") && json.contains("trace_surface_002"))
    assert(json.contains("\"n_errors\": 2"))
  }

  test("empty error map is an object with a zero count") {
    assert(Bench.compactErrJson(Nil) === "{\"n_errors\": 0}")
  }

  test("jq escapes control characters, quotes and backslashes as JSON") {
    val raw = "a\tb\nc\"d\\e" + 1.toChar + "f"
    assert(Bench.jq(raw) === "\"a\\tb\\nc\\\"d\\\\e\\u0001f\"")
  }
}
