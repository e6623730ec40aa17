package graft.governance

import graft.sink.MetadataJson

/** An audit record is one JSON line: a detail holding a newline or
  * another control character must stay on that line, escaped, and read
  * back unchanged with any JSON parser.
  */
class AuditJsonSpec extends org.scalatest.funsuite.AnyFunSuite {

  test("toJson escapes control characters and round-trips every detail") {
    val ref = "dev\nbranch\u0001"
    val rec = Audit.AuditEvent("table_write", "ns.t\"[x]", "2026-01-01T00:00:00Z",
      Map("ref" -> ref, "path" -> "a\\b\t{c}"))
    val json = rec.toJson
    assert(!json.exists(_ < ' '), s"raw control character in $json")
    val o = MetadataJson.parse(json).asObj
    assert(o("event").asStr == "table_write")
    assert(o("table").asStr == "ns.t\"[x]")
    assert(o("details").asObj.map { case (k, v) => k -> v.asStr } == rec.details)
  }
}
