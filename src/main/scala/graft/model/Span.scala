package graft.model

/** Engine-internal span model.
  *
  * Mirrors the capability surface of the reference protobuf span
  * (reference: commons .../ trace-commons `Span` usage in
  * indexer/writers/es/IndexDocumentGenerator.scala:44-105 and
  * reader/readers/utils/SpanMerger.scala) without the protobuf: a trace
  * is the set of spans sharing `traceId`; `parentSpanId` empty means
  * root; `kind` replaces the reference's client/server log-marker
  * detection (SpanUtils.containsClientLogTag / containsServerLogTag).
  */
case class Span(
    traceId: String,
    spanId: String,
    parentSpanId: String, // "" = root
    service: String,
    operation: String,
    startUs: Long,
    durationUs: Long,
    kind: String, // "client" | "server" | ""
    tags: Map[String, String]) {
  def endUs: Long = startUs + durationUs
  def isClient: Boolean = kind == "client"
  def isServer: Boolean = kind == "server"
}

/** A sealed trace buffer: all spans of one trace co-located.
  * Reference: haystack's SpanBuffer proto emitted by
  * indexer/processors/SpanIndexProcessor.scala. */
case class SpanBuffer(traceId: String, spans: Seq[Span])
