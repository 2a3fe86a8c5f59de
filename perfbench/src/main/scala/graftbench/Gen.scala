package graftbench

import java.util.SplittableRandom

/** One span as the store holds it: the columns `TraceDataset.toSpanDataset`
  * reads. `parent_span_id` is null for a root; a client/server pair shares
  * its `span_id` and is told apart by `kind`. */
final case class SpanRow(
    trace_id: String, span_id: String, parent_span_id: String,
    service: String, operation: String, start_us: Long, duration_us: Long,
    kind: String, tags: String)

/** Seeded trace generator. Every trace is a pure function of
  * (seed, trace index), so executors generate the relation in parallel
  * and the Spark driver regenerates any trace for the reference without
  * keeping the relation in memory.
  *
  * Shape: heavy-tailed trace sizes (Pareto, alpha 1.3) plus one hot
  * trace of `hotSize` spans; `nServices` services with skewed popularity,
  * `opsPerService` operations each; RPCs are client/server span pairs
  * sharing a span id (some servers on a skewed clock), so
  * `TraceTransforms` merges and skew-corrects real trees; three tag keys
  * plus an infrastructure tag on some servers. */
final case class TraceGen(
    seed: Long, nTraces: Int, hotSize: Int,
    t0Us: Long, windowUs: Long, maxRootUs: Long) {
  import TraceGen._

  /** The hot trace sits among the recent traces. */
  val hotIndex: Int = nTraces - nTraces / 50

  def traceId(i: Int): String = f"${mix(seed * 0x9E3779B97F4A7C15L + i)}%016x"

  private def rng(i: Int, salt: Long) = new SplittableRandom(mix(seed ^ (salt * 0xBF58476D1CE4E5B9L) ^ i))

  def size(i: Int): Int =
    if (i == hotIndex) hotSize
    else {
      val u = rng(i, 1).nextDouble()
      math.min(2000, math.ceil(3.0 / math.pow(1.0 - u, 1.0 / 1.3)).toInt)
    }

  /** Traces start in index order (a time-ordered feed), jittered within
    * their slot of the window. */
  def startUs(i: Int): Long = {
    val slot = math.max(1L, (windowUs - maxRootUs) / nTraces)
    t0Us + i * slot + rng(i, 2).nextLong(slot)
  }

  def spans(i: Int): Array[SpanRow] = {
    val r = rng(i, 3)
    val n = size(i)
    val tid = traceId(i)
    val out = new Array[SpanRow](n)
    val svcOf = new Array[Int](n)
    val callable = new Array[Int](n)
    var nCallable = 0
    var nextId = 0
    def newId(): String = { nextId += 1; Integer.toHexString(nextId) }
    val rootSvc = r.nextInt(Frontends)
    val rootDur = 5000L + r.nextLong(maxRootUs - 5000L)
    out(0) = SpanRow(tid, newId(), null, service(rootSvc), operation(rootSvc, r.nextInt(OpsPerService)),
      startUs(i), rootDur, "server", tags(r, rootSvc, server = true))
    svcOf(0) = rootSvc
    callable(0) = 0; nCallable = 1
    var k = 1
    while (k < n) {
      val p = callable(r.nextInt(nCallable))
      val parent = out(p)
      val childStart = parent.start_us + r.nextLong(math.max(1L, parent.duration_us / 2))
      val childDur = 1L + r.nextLong(math.max(1L, parent.start_us + parent.duration_us - childStart))
      val id = newId()
      if (n - k >= 2 && r.nextDouble() < 0.6) {
        var callee = pickService(r)
        if (callee == svcOf(p)) callee = (callee + 1) % NServices
        val net = math.min(childDur / 10, 2000L)
        val skew = if (callee % 5 == 0) r.nextLong(10000L) - 5000L else 0L
        out(k) = SpanRow(tid, id, parent.span_id, parent.service, operation(svcOf(p), r.nextInt(OpsPerService)),
          childStart, childDur, "client", tags(r, svcOf(p), server = false))
        svcOf(k) = svcOf(p)
        out(k + 1) = SpanRow(tid, id, parent.span_id, service(callee), operation(callee, r.nextInt(OpsPerService)),
          childStart + net / 2 + skew, childDur - net, "server", tags(r, callee, server = true))
        svcOf(k + 1) = callee
        callable(nCallable) = k + 1; nCallable += 1
        k += 2
      } else {
        out(k) = SpanRow(tid, id, parent.span_id, parent.service, operation(svcOf(p), r.nextInt(OpsPerService)),
          childStart, childDur, "", tags(r, svcOf(p), server = false))
        svcOf(k) = svcOf(p)
        callable(nCallable) = k; nCallable += 1
        k += 1
      }
    }
    out
  }
}

object TraceGen {
  val NServices = 30
  val Frontends = 5
  val OpsPerService = 6

  def service(k: Int): String = f"svc-$k%02d"
  def operation(svc: Int, k: Int): String = f"svc-$svc%02d.op$k"

  /** Popular services first: index ~ NServices·u². */
  private def pickService(r: SplittableRandom): Int = {
    val u = r.nextDouble()
    math.min(NServices - 1, (NServices * u * u).toInt)
  }

  private val Regions = Array("us-east-1", "eu-west-1", "ap-south-1")
  private val Status = Array("200", "200", "200", "200", "201", "404", "500")

  private def tags(r: SplittableRandom, svc: Int, server: Boolean): String = {
    val infra =
      if (server && svc % 4 == 1) ",\"X-HAYSTACK-INFRASTRUCTURE-PROVIDER\":\"aws\"" else ""
    s"""{"region":"${Regions(r.nextInt(3))}","http.status_code":"${Status(r.nextInt(Status.length))}","error":"${r.nextInt(20) == 0}"$infra}"""
  }

  /** splitmix64 finalizer: a bijection on 64-bit values. */
  def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
}
