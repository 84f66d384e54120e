package graftbench

import graft.ledger.{RunLedger, RunRecord}
import graft.sources.SourceReader
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** A [[RunLedger]] that times its appends and its pending-run scans as
  * spans. The appends are the pipeline's layer boundaries: `RAW COMPLETED` closes the
  * raw ingest, `PREPARED COMPLETED` closes a promotion. `pending` is the
  * trait's own method running over the timed `records`, so the ledger
  * scan it collects is inside the `ledger.records` span. */
final class TimingLedger(inner: RunLedger, tracer: Tracer) extends RunLedger {
  override def append(record: RunRecord): Unit =
    tracer.span("ledger.append")(inner.append(record))

  override def records(spark: SparkSession): Dataset[RunRecord] =
    inner.records(spark)

  override def pending(spark: SparkSession, jobSrc: String): Seq[RunRecord] =
    tracer.span("ledger.records")(super.pending(spark, jobSrc))
}

/** A [[SourceReader]] that times the snapshot read's construction. */
final class TimingSource(inner: SourceReader, tracer: Tracer) extends SourceReader {
  override def read(spark: SparkSession): DataFrame =
    tracer.span("sources.read")(inner.read(spark))
}
