package graft.governance

import java.time.Instant
import java.time.format.DateTimeFormatter
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

import graft.sink.MetadataJson.quote
import org.slf4j.LoggerFactory

/** Structured JSON audit events — same five-event taxonomy as the reference
  * (`dagster/lakehouse/utils/audit.py:16-36`): table_read, table_write,
  * source_ingest, pii_columns_dropped, schema_drift. UTC ISO-8601
  * timestamps; the record is returned (and buffered) so tests can assert
  * on it, mirroring `tests/test_audit.py:12-94`.
  *
  * Scale note: audit emission is driver-side only (one event per
  * table-level operation, never per row), so it adds zero executor work.
  */
object Audit {

  final case class AuditEvent(
      event: String,
      table: String,
      timestamp: String,
      details: Map[String, String]
  ) {
    def toJson: String = {
      val det = details.toSeq.sortBy(_._1)
        .map { case (k, v) => s"${quote(k)}: ${quote(v)}" }.mkString("{", ", ", "}")
      s"""{"event": ${quote(event)}, "table": ${quote(table)}, "timestamp": ${quote(timestamp)}, "details": $det}"""
    }
  }

  val EventTypes: Set[String] = Set(
    "table_read", "table_write", "source_ingest", "pii_columns_dropped", "schema_drift")

  /** In-memory tail kept for tests/introspection; the logger output is
    * the durable audit trail, so the buffer is bounded.
    */
  val MaxBuffered = 1000

  private val logger = LoggerFactory.getLogger("lakehouse.audit")
  private val buffer = new ConcurrentLinkedQueue[AuditEvent]()
  private val buffered = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Emit an audit event; returns the record for assertion/testing. */
  def log(event: String, table: String, details: Map[String, String] = Map.empty): AuditEvent = {
    require(EventTypes.contains(event), s"Unknown audit event type: $event (allowed: $EventTypes)")
    val rec = AuditEvent(event, table, DateTimeFormatter.ISO_INSTANT.format(Instant.now()), details)
    logger.info(rec.toJson)
    buffer.add(rec)
    // bounded tail, O(1) per record (queue.size() is O(n)); the logger
    // output is the durable audit trail
    if (buffered.incrementAndGet() > MaxBuffered) {
      if (buffer.poll() != null) buffered.decrementAndGet()
    }
    rec
  }

  /** Events recorded so far (test/introspection surface). */
  def recorded: Seq[AuditEvent] = buffer.asScala.toSeq

  def clear(): Unit = { buffer.clear(); buffered.set(0) }
}
