package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Loaders for the test star schema + document/embedding tables.
  *
  * Plain parquet scans: Catalyst pushes filters and prunes columns into
  * these, so callers should NOT cache or materialize here — compose lazily
  * and let the optimizer see the whole plan.
  *
  * INPUT BOUNDARY NORMALIZATION: the fixture generator is outside this
  * repo's control and has shipped the same timestamp column in three
  * physical shapes across regenerations — parquet TIMESTAMP(NANOS)
  * (reads as LongType under nanosAsLong), µs TIMESTAMP_NTZ
  * (isAdjustedToUTC=false), and µs UTC TimestampType. Every operator
  * downstream assumes one canonical type; a silent passthrough of a new
  * shape is exactly how round 5 lost four queries (`unix_micros` does
  * not accept TIMESTAMP_NTZ). So every loader normalizes its timestamp
  * columns to TimestampType here, at the boundary — the session time
  * zone is pinned UTC (GraftSession), so the NTZ→UTC cast is a pure
  * type change with identical wall-clock values. */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  /** Timestamp columns per table that [[load]] normalizes to
    * TimestampType regardless of the physical shape the fixture
    * generator chose. */
  private[graft] val tsColumns: Map[String, Seq[String]] = Map(
    "orders"   -> Seq("o_orderdate"),
    "lineitem" -> Seq("l_shipdate"),
    "events"   -> Seq("ts"))

  /** One column normalized to TimestampType from any fixture shape:
    * LongType = TIMESTAMP(NANOS) surfaced by nanosAsLong (the nanos in
    * the fixtures are µs-aligned, so `div 1000` is lossless); NTZ casts
    * to the identical UTC instant under the pinned-UTC session. Any
    * OTHER future shape fails analysis loudly right here instead of
    * deep inside an operator. */
  private def canonicalTs(dt: org.apache.spark.sql.types.DataType, c: String): Column =
    dt match {
      case LongType         => timestamp_micros(expr(s"`$c` div 1000"))
      case TimestampNTZType => col(c).cast(TimestampType)
      case TimestampType    => col(c)
      case other => throw new IllegalArgumentException(
        s"fixture column $c has unsupported timestamp shape $other — " +
          "add a normalization arm in Tables.canonicalTs")
    }

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val raw = spark.read.parquet(s"$dir/$name.parquet")
    tsColumns.getOrElse(name, Nil).filter(raw.columns.contains).foldLeft(raw) {
      (d, c) => d.withColumn(c, canonicalTs(d.schema(c).dataType, c))
    }
  }

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame    = load(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** Cache key for per-source-dir persisted artifacts (the q72 IVF
    * index, q46/q87's pair table, q82's snapshots): fingerprints the
    * path PLUS each table file's (size, mtime), so regenerated source
    * data — same path, new content — can never satisfy an artifact's
    * existence check and serve stale results. Resolved through the
    * Hadoop FileSystem API (works for hdfs:///s3a:// source dirs, not
    * just local fixtures); 64 bits of md5 over the metadata string, so
    * a cross-dir collision (which would silently serve the wrong cached
    * artifact) needs ~2^32 distinct source dirs, vs 2^16 for the 32-bit
    * String.hashCode this replaces. */
  def dirFingerprint(spark: SparkSession, dir: String): String =
    dirFingerprint(spark, dir, "")

  /** Session-lifetime memo for corpus COUNTS that exist only to derive
    * a sizing ladder (the q40/q41/q42 bit counts): keyed by the dir's
    * content fingerprint plus a semantic tag, so a regenerated dir
    * mints a fresh count while repeat invocations — and sibling queries
    * sharing the same tag — skip the re-scan. The fingerprint itself is
    * a file-status read, ~free next to the corpus scan it replaces. */
  private val countCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  def cachedCount(spark: SparkSession, dir: String, tag: String)(
      compute: => Long): Long = {
    // Compute OUTSIDE the map's bin lock: the count is a long Spark job,
    // and computeIfAbsent would hold the bin for its whole duration
    // (stalling unrelated keys, risking re-entrant IllegalStateException).
    // The count is deterministic, so a racing duplicate compute is
    // harmless — putIfAbsent keeps the first and both callers agree.
    val key = s"${dirFingerprint(spark, dir)}#$tag"
    val hit = countCache.get(key)
    if (hit != null) hit.longValue()
    else {
      val v = compute
      val prev = countCache.putIfAbsent(key, java.lang.Long.valueOf(v))
      if (prev != null) prev.longValue() else v
    }
  }

  /** [[dirFingerprint]] with a WRITER-SEMANTICS token folded into the
    * key. Round 5's lesson: the source files' (size, mtime) fingerprint
    * protects against regenerated DATA, but not against a change in what
    * the BUILDER writes — the json_events artifact was built from NTZ
    * data with a silently-ignored timestampFormat, and after the reader
    * bug was fixed the unchanged fingerprint kept serving the poisoned
    * artifact. Callers pass everything that determines the bytes they
    * write (normalized input schema via `df.schema.catalogString`,
    * format options): any change to writer semantics then mints a new
    * key and can never serve a stale artifact. [[ArtifactStore.Format]]
    * rides every key the same way, for a change to how artifacts store
    * their tables. */
  def dirFingerprint(spark: SparkSession, dir: String, semantics: String): String = {
    val conf = spark.sparkContext.hadoopConfiguration
    val meta = names.map { n =>
      val p = new org.apache.hadoop.fs.Path(s"$dir/$n.parquet")
      scala.util.Try {
        val st = p.getFileSystem(conf).getFileStatus(p)
        s"$n:${st.getLen}:${st.getModificationTime}"
      }.getOrElse(s"$n:0:0")
    }
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest((dir + meta.mkString(",") + "|" + semantics + "|" + ArtifactStore.Format)
        .getBytes("UTF-8"))
    md.take(8).map(b => f"$b%02x").mkString
  }
}
