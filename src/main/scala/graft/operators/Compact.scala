package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ArtifactStore.{readTable, writeTable}
import graft.Tables

/** Small-file compaction (q114) — the lakehouse maintenance operation
  * every streaming ingest eventually needs: micro-batch appends leave
  * thousands of KB-sized parquet files per partition (the reference's
  * raw layer appends per Kafka trigger, metadata_eu_to_raw.py:96-112),
  * and scan cost at 100 TB is dominated by file-open overhead and lost
  * pruning, not bytes. Compaction rewrites a fragmented table into few
  * large files RANGE-CLUSTERED on event time, so (a) per-file min/max
  * footer stats become disjoint and a time-predicate scan prunes whole
  * files (the OPTIMIZE half of what q73's Z-order does for 2-D
  * predicates), and (b) the file count drops ~[[FragFiles]]/[[CompactFiles]]×.
  *
  * Both states live under one content-fingerprinted artifact
  * (`frag/` = the simulated post-ingest state, `compact/` = the
  * rewrite), built atomically via [[graft.ArtifactStore]] staging so a
  * reader can never see a half-compacted table. The gated query reads
  * the COMPACTED files and must reproduce the source value-for-value —
  * compaction is proven lossless (timestamps, doubles, JSON payload
  * strings), not assumed. CompactionSpec asserts the physical claims:
  * file count shrinks, per-file ts ranges are disjoint-ordered.
  *
  * Scale notes: `repartitionByRange` is one shuffle with sampled range
  * bounds — the same cost class as any sort-based OPTIMIZE; at real
  * scale the operation runs per table-partition with `CompactFiles`
  * sized to the target file size (~1 GB), and readers keep serving the
  * old files until the artifact rename publishes. */
object Compact {

  val FragFiles = 64
  val CompactFiles = 4

  private[graft] def compactionArtifact(s: SparkSession, dir: String): String = {
    val src = Tables.events(s, dir)
    graft.ArtifactStore.ensureCurrent(s, "compaction_events_v1",
      Tables.dirFingerprint(s, dir,
        s"frag=$FragFiles;compact=$CompactFiles;${src.schema.catalogString}")) { staging =>
      // the fragmented state a micro-batching ingest leaves behind
      writeTable(src.repartition(FragFiles), s"$staging/frag")
      // the rewrite: read the small files back (compaction must work
      // from the files, not the logical source), cluster by event time
      writeTable(readTable(s, s"$staging/frag")
        .repartitionByRange(CompactFiles, col("ts"), col("event_id"))
        .sortWithinPartitions("ts", "event_id"), s"$staging/compact")
    }
  }

  /** q114: the compacted read, gated as a value round-trip. */
  def compactRead(s: SparkSession, dir: String): DataFrame = {
    val base = compactionArtifact(s, dir)
    readTable(s, s"$base/compact")
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .orderBy("event_id")
  }

  val compactOracleSql: String =
    """SELECT event_id, ts, user_id, event_type, value, props
      |FROM events ORDER BY event_id""".stripMargin
}
