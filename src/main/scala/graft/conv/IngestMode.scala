package graft.conv

/** Corrupt-record tolerance for the proto ingest scans
  * ([[graft.Protarrow.readProtoJsonl]] / [[graft.Protarrow.fromProtoBinary]]),
  * mirroring `spark.read.json`'s `mode` knob. A 100-TB crawl always
  * contains malformed lines; without a permissive tier one bad line
  * kills the whole ingest job.
  *
  *  - [[IngestMode.FailFast]] (default): malformed input raises a clear
  *    error — the reference's behavior (its fixture loader hard-raises
  *    via json_format.Parse, tests/test_conversion.py:99-105) and the
  *    right default for fixtures and tests.
  *  - [[IngestMode.Permissive]]: a malformed record becomes a row of
  *    NULL fields with the raw input preserved in the appended
  *    [[IngestMode.CorruptColumn]] column (STRING for jsonl, BINARY for
  *    wire bytes); well-formed rows carry NULL there. A null record (a
  *    Kafka tombstone) is quarantined with an empty value, which no
  *    accepted record leaves there (an empty wire payload decodes to the
  *    default message, a blank JSONL line is skipped), so
  *    `_corrupt_record IS NOT NULL` finds every reject. Nothing is lost —
  *    rejects can be counted, quarantined, and replayed.
  *  - [[IngestMode.DropMalformed]]: malformed records are skipped; the
  *    schema is unchanged.
  *
  * The scan's `ProtoDecode` node counts PERMISSIVE's rejects and
  * DROPMALFORMED's drops in its `numRejected` / `numDropped` SQLMetric.
  *
  * The knob is per-scan (an argument, not session state) so one job can
  * mix a FAILFAST fixture load with a PERMISSIVE crawl scan.
  */
sealed trait IngestMode

object IngestMode {
  /** Raise on the first malformed record (default). */
  case object FailFast extends IngestMode
  /** Null row + raw record in [[CorruptColumn]] for malformed input. */
  case object Permissive extends IngestMode
  /** Skip malformed records. */
  case object DropMalformed extends IngestMode

  /** The appended quarantine column in [[Permissive]] mode — the same
    * name `spark.read.json` uses, so downstream tooling treats both
    * identically. */
  val CorruptColumn = "_corrupt_record"
}
