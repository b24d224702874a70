package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.StructType
import graft.Tables

/** Streaming operators (reference analog: the Kafka→raw/cleansed
  * Structured Streaming jobs, metadata_eu_to_raw.py:53-112 and
  * ugc_raw_to_cleansed.py:51-84).
  *
  * Each operator has ONE transform that works on both a batch DataFrame
  * (used by the oracle-checked qNN queries) and a readStream DataFrame
  * (watermark applied only when streaming), so the tested logic is the
  * logic a production stream runs.
  *
  * Scale notes: windowed aggs and dropDuplicates shuffle on
  * (window/key) — state store size is bounded by the watermark horizon,
  * sessionization included (Spark's `session_window`).
  */
object Streams {

  /** Tumbling event-time window aggregate (q19). Watermark only applies
    * to streaming inputs — on batch it would be a plan-invalid no-op. */
  def tumblingAgg(events: DataFrame, watermark: String = "1 hour"): DataFrame = {
    val in = if (events.isStreaming) events.withWatermark("ts", watermark) else events
    // explicit null-ts filter: window() drops null-timestamp rows anyway
    // (the analyzer inserts the filter), but making it visible keeps the
    // operator and its oracle in lockstep (q78/q80/q85/q96 rule)
    in.filter(col("ts").isNotNull)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(20,4)")).cast("double").as("total_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("total_value"))
  }

  /** q95: HOPPING (sliding) window aggregation — 10-minute windows
    * every 5 minutes, so each event lands in exactly 2 overlapping
    * windows: the smoothing the dashboard's activity panels need where
    * q19's tumbling windows jump at boundaries. Identical code for
    * batch and stream (watermark added when streaming), like
    * [[tumblingAgg]]. Value sums fold in DECIMAL so overlapping windows
    * stay engine-exact.
    *
    * Scale notes: one shuffle on (window, event_type); the ×2 row
    * expansion happens map-side inside Spark's window() Expand, before
    * partial aggregation — state per window is one row, and a stream
    * drops windows as the watermark passes, exactly like tumbling. */
  def hoppingAgg(events: DataFrame, watermark: String = "1 hour"): DataFrame = {
    val in = if (events.isStreaming) events.withWatermark("ts", watermark) else events
    in.filter(col("ts").isNotNull) // same null-ts parity rule as tumblingAgg
      .groupBy(window(col("ts"), "10 minutes", "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(20,4)")).cast("double").as("total_value"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"), col("event_type"),
        col("n_events"), col("total_value"))
  }

  /** Replay-safe dedup (q21): drop duplicate event_ids (within the
    * watermark horizon when streaming — Kafka redelivery shape). The
    * streaming path uses dropDuplicatesWithinWatermark: a bare
    * dropDuplicates(event_id) would never evict state (the watermark
    * only purges dedup state when the event-time column is part of the
    * key), growing the state store without bound on a long-lived
    * stream. */
  def dedupReplays(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    if (events.isStreaming)
      events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark("event_id")
    else events.dropDuplicates("event_id")

  /** Gap-based sessionization, batch analog (q20): lag + cumulative
    * new-session flags, then one aggregate per (user, session). Integer
    * microsecond arithmetic, so the gap compare is engine-exact. */
  def sessionizeBatch(events: DataFrame, gapSeconds: Long = 1800): DataFrame = {
    val order = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val gapUs = gapSeconds * 1000000L
    events
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(order))
      .withColumn("new_session",
        when(col("prev_us").isNull || unix_micros(col("ts")) - col("prev_us") > gapUs, 1L)
          .otherwise(0L))
      .withColumn("session_id",
        sum(col("new_session")).over(order.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(min(col("ts")).as("session_start"), max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(20,4)")).cast("double").as("total_value"))
      .orderBy("user_id", "session_id")
  }

  /** Gap-based sessionization for streams: [[sessionAgg]], Spark's
    * `session_window` aggregate, under a one-hour watermark. A session
    * is emitted once the watermark passes its window end (last event +
    * gap), when no admissible event can extend or bridge it, so any
    * micro-batch split of the same events emits the batch analog's
    * sessions (StreamingSpec replays 1/2/3-batch splits). Late events
    * within the watermark merge into, or bridge, the sessions Spark
    * keeps in its state store.
    *
    * Scale notes: state per user is the sessions the watermark has not
    * passed; Spark evicts each one as it is emitted. */
  def sessionizeStream(events: DataFrame, gapSeconds: Long = 1800): DataFrame =
    sessionAgg(events.withWatermark("ts", "1 hour"), gapSeconds).drop("session_window")

  /** Stream-static enrichment: annotate a live stream with a broadcast
    * dimension snapshot (the reference's ugc-stream × metadata join
    * shape). Works identically on batch frames. */
  def enrichStream(events: DataFrame, dim: DataFrame, key: String): DataFrame =
    events.join(broadcast(dim), Seq(key), "left")

  /** Stream-stream interval join (q58's streaming form): views × purchases
    * of the same user with purchase in (view_ts, view_ts + window]. On
    * streams both sides carry watermarks and the time-bound join
    * condition bounds each side's state retention to the join window +
    * watermark — the condition Structured Streaming needs to ever purge
    * state. On batch frames the same plan is a plain range join; the
    * oracle-gated bucketed rewrite is [[graft.operators.Temporal.intervalJoin]]. */
  def intervalJoinStream(views: DataFrame, purchases: DataFrame,
      windowSeconds: Long = graft.operators.Temporal.IntervalSeconds,
      watermark: String = "1 hour"): DataFrame = {
    val mark = (df: DataFrame) =>
      if (df.isStreaming) df.withWatermark("ts", watermark) else df
    val v = mark(views).select(col("user_id"),
      col("event_id").as("view_event_id"), col("ts").as("view_ts"))
    val p = mark(purchases).select(col("user_id").as("p_user_id"),
      col("event_id").as("purchase_event_id"), col("ts").as("purchase_ts"),
      col("value").as("purchase_value"))
    v.join(p, col("user_id") === col("p_user_id") &&
        col("purchase_ts") > col("view_ts") &&
        col("purchase_ts") <= col("view_ts") + expr(s"INTERVAL $windowSeconds SECONDS"))
      .select(col("user_id"), col("view_event_id"), col("purchase_event_id"),
        col("view_ts"), col("purchase_ts"), col("purchase_value"))
  }

  /** Stage → publish → claim (the protocol [[upsertSinkBucketed]]
    * documents): `stage` fills a fresh, uniquely named staging dir,
    * which [[graft.ArtifactStore.publishStaged]] renames to `v<v>` unless
    * that dir already exists, and `_commits/<v>` is claimed. A `stage`
    * that throws leaves no staging dir and claims nothing. */
  private[graft] def publishVersion(spark: SparkSession, path: String, v: Long)(
      stage: org.apache.hadoop.fs.Path => Unit): Unit = {
    val dir = new org.apache.hadoop.fs.Path(path)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.ArtifactStore.publishStaged(fs, new org.apache.hadoop.fs.Path(dir, s"v$v"))(stage)
    tryCommitVersion(spark, path, v) // false = already committed: done
  }

  /** Runs `f` on `df` computed at most once, however often `f` reads it,
    * and releases the computed blocks when `f` returns.
    *
    * A micro-batch's plan holds the stream's source scan and stateful
    * operators, and every action on it re-runs them (the merge reads the
    * batch up to three times). The copy is a lazy `localCheckpoint`: the
    * first action computes and stores its blocks, later ones read them.
    * It is a checkpoint and not `persist()` on purpose: the merge unions
    * the batch with an anti-join against itself, the union re-instances
    * the second reference with fresh attribute ids, the cache lookup
    * then misses, and the stateful plan still runs twice (measured:
    * state-store `numRowsUpdated` stays at 2× the batch rows). A
    * checkpoint is a leaf over one RDD, so every re-instanced reference
    * still reads the same blocks. */
  private def materialisedOnce[T](df: DataFrame)(f: DataFrame => T): T = {
    val once = df.localCheckpoint(eager = false)
    try f(once)
    finally once.queryExecution.logical.collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.unpersist(blocking = false)
    }
  }

  /** Hash bucket of the merge key(s): pmod(hash(keys), n). The bucket of
    * a key never changes, so a batch row and its base row always land in
    * the same bucket. */
  private[graft] def bucketExpr(keys: Seq[String], numBuckets: Int) =
    pmod(hash(keys.map(col): _*), lit(numBuckets))

  /** Streaming MERGE sink (the reference's Delta `MERGE` from a stream,
    * ugc_raw_to_cleansed.py + eu_raw_to_cleansed_merge.py): each
    * micro-batch upserts into a versioned, hash-bucketed parquet
    * snapshot. The snapshot is bucketed by the merge key and each batch
    * rewrites ONLY the buckets containing batch keys — per-trigger write
    * cost is O(table/numBuckets × touched buckets), not O(table).
    * Returns the DataStreamWriter so the caller picks trigger/checkpoint
    * options.
    *
    * Layout: `path/v<id>/__bucket=<b>/…` holds the rewritten buckets of
    * version `id`, ONE parquet file per bucket: the merge result is
    * hash-partitioned into `numBuckets` write tasks on the merge key(s)
    * with the function [[bucketExpr]] computes, so write task `b` holds
    * bucket `b` and nothing else (Hive's bucketed layout; `numBuckets`
    * is also the write parallelism). `path/v<id>/_manifest` maps EVERY
    * bucket to the version whose files currently hold it (untouched
    * buckets keep pointing at older versions — their files are never
    * rewritten, or even read), and carries one `schema:` line, the JSON
    * schema of the table's files as parquet stores them, so readers
    * (the merge base included) skip footer inference. Old versions are
    * swept by [[vacuumBucketed]] once no current manifest references
    * them.
    *
    * Write protocol (stage → publish → claim, [[publishVersion]]):
    *  1. the merge result and its manifest land in a UNIQUE staging dir
    *     — committed data is never an overwrite target, so a racing or
    *     replayed writer cannot clobber already-published files;
    *  2. the staging dir is renamed to `v<id>` (atomic dir move; the
    *     rename FAILS if the target exists, so the first publisher
    *     wins and a loser just drops its staging copy);
    *  3. `_commits/<id>` is claimed via atomic create-if-absent — the
    *     log never references a version before its data is fully
    *     published, so readers resolving the log never see a partial
    *     or missing snapshot.
    * A crash between publish and claim leaves an unreferenced `v<id>`
    * dir; the stream's foreachBatch replay of that batch recomputes the
    * identical merge (same base — see below), finds the target present,
    * and completes the claim.
    *
    * The merge base is the latest version committed STRICTLY BELOW this
    * batchId: on a foreachBatch replay the crashed attempt's own version
    * must not be an input (reading and rewriting the same files wedges
    * the stream), and versions ≥ batchId can only be earlier
    * incarnations of this same batch.
    *
    * Each trigger runs the micro-batch's source plan (scan, parse,
    * stateful dedup) exactly once: [[mergeBucketedBatch]] materialises
    * the batch once, as a local checkpoint and not a `persist()` (see
    * [[materialisedOnce]] for the cache miss that rules `persist()` out). */
  def upsertSinkBucketed(stream: DataFrame, path: String, keys: Seq[String],
      numBuckets: Int = 16, retainVersions: Int = 1):
      org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      mergeBucketedBatch(batch, path, keys, numBuckets, batchId)
      vacuumBucketed(batch.sparkSession, path, retainVersions)
      ()
    }

  /** One bucketed merge (the foreachBatch body, callable directly for
    * batch backfills): merge `batch` into the buckets it touches and
    * publish version `batchId` with an updated manifest.
    *
    * `batch` is materialised once ([[materialisedOnce]]): the
    * touched-bucket collect computes it, and the merge's union and
    * anti-join sides read those blocks, so a stream's source plan runs
    * once per trigger. A batch that touches no bucket (every no-data
    * trigger) publishes its manifest-only version without a Spark
    * write. In a stateful stream, which runs without adaptive execution,
    * a data trigger runs three jobs: the touched-bucket collect, the
    * anti-join's broadcast build and the write. */
  def mergeBucketedBatch(batch: DataFrame, path: String, keys: Seq[String],
      numBuckets: Int, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val prev = latestCommittedVersionBelow(spark, path, batchId)
      .map(v => readManifestAndSchema(spark, path, v)).getOrElse(Manifest(Map.empty, None))
    publishVersion(spark, path, batchId) { staging =>
      val (touched, schema) = materialisedOnce(
          batch.withColumn("__bucket", bucketExpr(keys, numBuckets))) { bb =>
        // ≤ numBuckets values — a bounded driver collect, not a data collect
        val touched = bb.select("__bucket").distinct().collect()
          .map(_.getInt(0)).sorted
        if (touched.isEmpty) { fs.mkdirs(staging); (touched, prev.schema) }
        else {
          // a key's bucket never changes, so re-deriving `__bucket` on
          // the base rows gives each row the bucket its dir is named for
          val base = readBuckets(spark, path,
            prev.copy(buckets = touched.flatMap(b => prev.buckets.get(b).map(b -> _)).toMap))
          val merged = base.fold(bb)(b => graft.operators.Merge.upsertSnapshot(
            b.withColumn("__bucket", bucketExpr(keys, numBuckets)), bb, keys))
          // hash partitioning is pmod(murmur3(keys, 42), n) = bucketExpr,
          // so task b writes bucket b's one file; the count is explicit so
          // adaptive execution cannot coalesce the exchange
          merged.repartition(numBuckets, keys.map(col): _*)
            .write.mode("overwrite").partitionBy("__bucket").parquet(staging.toString)
          (touched, Some(org.apache.spark.sql.graftbridge.ColumnBridge
            .asNullable(merged.drop("__bucket").schema)))
        }
      }
      // manifest rides INSIDE the staged version dir, so the rename
      // publishes data + manifest atomically together
      writeManifest(fs, staging, Manifest(prev.buckets ++ touched.map(_ -> batchId), schema))
    }
  }

  /** One scan over the bucket dirs `m` names (bucket → version): a
    * single file index however many buckets and versions it spans. Each
    * bucket dir is a root of the scan, so `__bucket` is not read back as
    * a column. With the manifest's schema the read starts no Spark job;
    * without one (a manifest written before the schema line existed)
    * the schema is inferred from the footers in one job. The stored
    * schema is what inference returns, so a base whose columns differ
    * from a batch's still fails at the merge's `unionByName`. None when
    * `m` names no bucket. */
  private def readBuckets(spark: SparkSession, path: String, m: Manifest): Option[DataFrame] =
    if (m.buckets.isEmpty) None
    else Some(m.schema.fold(spark.read)(s => spark.read.schema(s)).parquet(m.buckets.toSeq.sorted
      .map { case (b, v) => s"$path/v$v/__bucket=$b" }: _*))

  /** The latest bucketed snapshot: each bucket read from the version the
    * manifest references, in one scan. Returns None before the first
    * commit or when the manifest is empty (only empty batches ever
    * committed). */
  def currentSnapshotBucketed(spark: SparkSession, path: String): Option[DataFrame] =
    latestCommittedVersion(spark, path)
      .flatMap(v => readBuckets(spark, path, readManifestAndSchema(spark, path, v)))

  /** q42's daily-ingest loop under Structured Streaming — the
    * reference's qdrant-deduplicator batch loop
    * (deduplicate_from_qdrant.py:224-310) as a stream. Each micro-batch
    * of embedding rows (vec_id, embedding) is scored against the FIXED
    * validated-corpus side (the persisted frame q42 serves from —
    * [[graft.operators.Dedup.corpusSideEmb]], artifact-stored by
    * `dedupIncrementalQ`) via `dedupIncrementalPre`, and the per-vector
    * verdicts (vec_id, canonical_id, matched, best_sim_r) MERGE into
    * the bucketed versioned snapshot at `path` keyed by vec_id — the
    * canonical-mapping registry the reference's loop maintains, with
    * [[mergeBucketedBatch]]'s replay-idempotent publish protocol.
    *
    * Batch ≡ stream under ANY micro-batch split by construction: the
    * corpus side is constant for the run and batch vectors never
    * canonicalize each other (the reference's pending-vs-validated
    * rule), so each vector's verdict depends only on (vector, corpus) —
    * StreamingSpec proves equality under 1/2/3-way splits. A
    * redelivered vec_id upserts its identical verdict (idempotent). At
    * scale the per-trigger cost is the batch-side bucket probe join
    * (O(batch · corpus / 2^bits) candidate rows) plus a rewrite of only
    * the snapshot buckets the batch touches. */
  def dedupIncrementalStream(stream: DataFrame, corpusPre: DataFrame,
      path: String, tau: Double, bits: Int,
      dim: Int = graft.operators.Similarity.Dim, numBuckets: Int = 16):
      org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      mergeBucketedBatch(
        graft.operators.Dedup.dedupIncrementalPre(
          corpusPre, batch, tau, bits, dim),
        path, Seq("vec_id"), numBuckets, batchId)
      ()
    }

  /** `_commits`-driven retention for [[upsertSinkBucketed]] tables:
    * deletes version dirs that (a) are not referenced by the LATEST
    * committed manifest, (b) are MORE than `retainVersions` behind it —
    * strictly `v < latest - retainVersions`, so with the default
    * retainVersions=1 version latest-1 always survives one more commit
    * (the grace window for a reader that resolved the previous commit
    * just before this one; the sink vacuums after every trigger, so a
    * `<=` sweep would hit that reader on every batch) — and (c) are not
    * the latest version itself (an empty batch publishes a
    * manifest-only version whose dir must survive). Returns the swept
    * version ids. */
  def vacuumBucketed(spark: SparkSession, path: String,
      retainVersions: Int = 1): Seq[Long] = {
    val dir = new org.apache.hadoop.fs.Path(path)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    latestCommittedVersion(spark, path) match {
      case None => Nil
      case Some(latest) =>
        val referenced = readManifest(spark, path, latest).values.toSet
        val versions = fs.listStatus(dir).toSeq.map(_.getPath.getName)
          .filter(n => n.length > 1 && n.head == 'v' && n.tail.forall(_.isDigit))
          .map(_.tail.toLong)
        val doomed = versions
          .filter(v => v != latest && v < latest - retainVersions && !referenced(v))
          .sorted
        doomed.foreach(v =>
          fs.delete(new org.apache.hadoop.fs.Path(dir, s"v$v"), true))
        doomed
    }
  }

  /** A version's `_manifest`: one `<bucket>:<version>` line per bucket,
    * and a `schema:<json>` line once any version has written files. */
  private case class Manifest(buckets: Map[Int, Long], schema: Option[StructType])

  private val SchemaLine = "schema:"

  private def writeManifest(fs: org.apache.hadoop.fs.FileSystem,
      versionDir: org.apache.hadoop.fs.Path, m: Manifest): Unit = {
    graft.ArtifactStore.writeUtf8(fs, new org.apache.hadoop.fs.Path(versionDir, "_manifest"),
      (m.buckets.toSeq.sorted.map { case (b, v) => s"$b:$v" } ++
        m.schema.map(SchemaLine + _.json)).mkString("\n"))
  }

  private[graft] def readManifest(spark: SparkSession, path: String,
      v: Long): Map[Int, Long] = readManifestAndSchema(spark, path, v).buckets

  private def readManifestAndSchema(spark: SparkSession, path: String,
      v: Long): Manifest = {
    val p = new org.apache.hadoop.fs.Path(s"$path/v$v/_manifest")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Manifest(Map.empty, None)
    else {
      val (schema, buckets) = graft.ArtifactStore.readUtf8(fs, p).split("\n").toSeq.filter(_.nonEmpty)
        .partition(_.startsWith(SchemaLine))
      Manifest(buckets.map { line =>
          val Array(b, ver) = line.split(":")
          b.toInt -> ver.toLong
        }.toMap,
        schema.headOption.map(l => graft.ArtifactStore.parseSchema(l.drop(SchemaLine.length))))
    }
  }

  /** Optimistic commit of snapshot version `v`: atomically claims
    * `_commits/<v>` via create-if-absent (atomic on HDFS and local FS; on
    * object stores use a conditional-put equivalent). Returns false when
    * the version was already committed — a concurrent writer racing to
    * the same version loses here BEFORE any reader can observe its data,
    * which is the concurrent-writer story the versioned-parquet MERGE
    * sink needs: multiple writers each claim latestCommittedVersion+1 and
    * retry on false. The commit log is the only record of which versions
    * are readable. */
  def tryCommitVersion(spark: SparkSession, path: String, v: Long): Boolean = {
    val dir = new org.apache.hadoop.fs.Path(path)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val commits = new org.apache.hadoop.fs.Path(dir, "_commits")
    fs.mkdirs(commits)
    // createNewFile returns false (no throw) when the version is already
    // claimed; genuine IO failures propagate
    fs.createNewFile(new org.apache.hadoop.fs.Path(commits, v.toString))
  }

  /** Greatest committed version STRICTLY below `bound` — the merge-base
    * resolution for replays and checkpoint resets. Scans the whole
    * `_commits` log rather than filtering only the single latest commit:
    * when the latest commit is >= bound (a checkpoint reset restarting
    * batchIds at 0 against an existing table), older committed versions
    * below bound must still be found — `latestCommittedVersion(...)
    * .filter(_ < bound)` would yield None and silently merge against
    * empty, publishing a manifest that lost every base row. */
  def latestCommittedVersionBelow(spark: SparkSession, path: String,
      bound: Long): Option[Long] =
    committedVersions(spark, path).filter(_ < bound).maxOption

  /** Highest committed version per the `_commits` log. */
  def latestCommittedVersion(spark: SparkSession, path: String): Option[Long] =
    committedVersions(spark, path).maxOption

  /** Every version id the `_commits` log names; empty without a log. */
  private def committedVersions(spark: SparkSession, path: String): Seq[Long] = {
    val commits = new org.apache.hadoop.fs.Path(path, "_commits")
    val fs = commits.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(commits)) Nil
    else fs.listStatus(commits).toSeq
      .flatMap(st => scala.util.Try(st.getPath.getName.toLong).toOption)
  }

  // ---- time travel ----
  // The versioned layout already retains history (every committed v<id>
  // dir until vacuum); these readers expose it the way Delta's
  // `versionAsOf` does for the reference's Delta tables. A version
  // resolves ONLY through the `_commits` log — an uncommitted v<id> dir
  // (crash between publish and claim) is not a readable snapshot.

  /** Snapshot of [[upsertSinkBucketed]]'s table AS OF committed version
    * `v`: resolves THAT version's manifest, so each bucket reads from
    * whichever older version last rewrote it — exactly what a reader at
    * the time of commit `v` saw. None when `v` was never committed, its
    * manifest is empty, or a referenced bucket version was vacuumed
    * (retention has outlived this snapshot; [[vacuumBucketed]] keeps
    * everything the LATEST manifest references, so the current snapshot
    * is never in that state). */
  def readVersionBucketed(spark: SparkSession, path: String,
      v: Long): Option[DataFrame] = {
    val dir = new org.apache.hadoop.fs.Path(path)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new org.apache.hadoop.fs.Path(dir, s"_commits/$v"))) None
    else {
      val m = readManifestAndSchema(spark, path, v)
      if (m.buckets.exists { case (b, ver) =>
        !fs.exists(new org.apache.hadoop.fs.Path(dir, s"v$ver/__bucket=$b")) }) None
      else readBuckets(spark, path, m)
    }
  }

  /** [[currentSnapshotBucketed]] under the time-travel name. */
  def readLatestBucketed(spark: SparkSession, path: String): Option[DataFrame] =
    currentSnapshotBucketed(spark, path)

  // ---- oracle-checked batch entries ----

  /** q19: tumbling hourly aggregate over the events table. */
  def q19(s: SparkSession, dir: String): DataFrame =
    tumblingAgg(Tables.events(s, dir))
      .orderBy("window_start", "event_type")

  /** q95: batch run of the hopping-window aggregate. */
  def q95(s: SparkSession, dir: String): DataFrame =
    hoppingAgg(Tables.events(s, dir))
      .orderBy("window_start", "event_type")

  /** q20: batch sessionization with a 30-minute gap. */
  def q20(s: SparkSession, dir: String): DataFrame =
    sessionizeBatch(Tables.events(s, dir))

  /** Sessionization via Spark's NATIVE `session_window` operator — the
    * same gap semantics q20 hand-rolls, expressed as the built-in
    * Catalyst session window so the whole session assignment happens
    * inside ONE aggregate (no lag window, no cumulative-flag pass), and
    * the identical code runs under Structured Streaming with a
    * watermark (merging session state is Spark's, not ours).
    *
    * BOUNDARY CONTRACT, spec-pinned: the built-in merges an event whose
    * ts is within the CLOSED interval [prev, prev+gap] — a gap of
    * exactly `gapSeconds` stays in-session, identical to q20's
    * `gap_us > gap → new` rule (verified empirically on a planted
    * 1799/1800/1801 s triple; StreamingSpec asserts the two
    * implementations agree INCLUDING at the boundary).
    *
    * `session_seq` (the per-user ordinal q20 exposes as session_id) is
    * recovered by a row_number over the AGGREGATED session-sized frame
    * — scale-safe where a raw-event window would not be. NULL ts rows
    * carry no event time and are excluded explicitly (the oracle
    * filters identically). */
  def sessionizeBuiltin(events: DataFrame, gapSeconds: Long = 1800): DataFrame = {
    val seq = Window.partitionBy(col("user_id")).orderBy(col("session_start"))
    sessionAgg(events, gapSeconds)
      .withColumn("session_seq", row_number().over(seq).cast("long"))
      .select("user_id", "session_seq", "session_start", "session_end",
        "n_events", "total_value")
      .orderBy("user_id", "session_seq")
  }

  /** One row per (user, `session_window`): the session aggregate
    * [[sessionizeBuiltin]] and [[sessionizeStream]] share. */
  private def sessionAgg(events: DataFrame, gapSeconds: Long): DataFrame =
    events
      .where(col("ts").isNotNull)
      .groupBy(col("user_id"), session_window(col("ts"), s"$gapSeconds seconds"))
      .agg(min(col("ts")).as("session_start"), max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(20,4)")).cast("double").as("total_value"))

  /** q131: [[sessionizeBuiltin]] over the events table. */
  def q131(s: SparkSession, dir: String): DataFrame =
    sessionizeBuiltin(Tables.events(s, dir))

  val sessionizeBuiltinOracleSql: String =
    """WITH x AS (SELECT user_id, ts, event_id, value,
      |  epoch_us(ts) - LAG(epoch_us(ts)) OVER w AS gap_us
      | FROM events WHERE ts IS NOT NULL
      | WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |y AS (SELECT user_id, ts, value,
      |  SUM(CASE WHEN gap_us IS NULL OR gap_us > 1800000000 THEN 1 ELSE 0 END)
      |    OVER (PARTITION BY user_id ORDER BY ts, event_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
      | FROM x)
      |SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
      | MIN(ts) AS session_start, MAX(ts) AS session_end,
      | COUNT(*) AS n_events,
      | CAST(CAST(SUM(CAST(value AS DECIMAL(20,4))) AS VARCHAR) AS DOUBLE) AS total_value
      |FROM y GROUP BY user_id, session_seq
      |ORDER BY user_id, session_seq""".stripMargin

  /** q21: replay dedup — events unioned with themselves (simulated Kafka
    * redelivery), then deduped back to the original stream. */
  def q21(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
    dedupReplays(e.unionByName(e))
      .select("event_id", "ts", "user_id", "event_type", "value")
      .orderBy("event_id")
  }

  /** Last-click attribution on top of [[intervalJoinStream]] — the
    * production shape the raw interval join exists to feed: every
    * purchase is credited to the LATEST click by the same user within
    * the preceding [[graft.operators.Temporal.IntervalSeconds]] window
    * (ties on click ts broken by highest click event_id — a total
    * order, so the winner is deterministic), with the candidate-click
    * count alongside. Reference analog: the conversion panel joining
    * the ugc event stream to itself by guid + time window
    * (app.py:84-140's per-facet engagement readouts).
    *
    * One transform for batch and stream (the file's contract): on
    * batch frames the join is a user-keyed equi-join with a bounded
    * time predicate and the winner is a map-combinable MAX of the
    * packed (ts, id) struct; on streams both inputs carry watermarks —
    * the time-bound join purges its state past watermark + window, and
    * the downstream aggregate is grouped by a purchase-time tumbling
    * window (each purchase_event_id lives in exactly ONE window, so
    * the window column changes no group boundaries — it exists so the
    * chained stateful aggregate after the stream-stream join has the
    * event-time column Spark requires to emit and evict in append
    * mode; StreamingSpec proves batch ≡ stream across micro-batch
    * splits). Scale: no corpus-wide sort or window — per-purchase
    * state is click-count-bounded and the aggregate map-combines. */
  def attribution(events: DataFrame): DataFrame = {
    val base = events.filter(col("ts").isNotNull && col("user_id").isNotNull &&
      col("event_id").isNotNull)
    val clicks = base.filter(col("event_type") === "click")
    val purchases = base.filter(col("event_type") === "purchase")
    val j = intervalJoinStream(clicks, purchases)
    j.groupBy(
        window(col("purchase_ts"),
          s"${graft.operators.Temporal.IntervalSeconds} seconds"),
        col("purchase_event_id"))
      .agg(max(col("user_id")).as("user_id"),
        max(col("purchase_ts")).as("purchase_ts"),
        max(col("purchase_value")).as("purchase_value"),
        count(lit(1)).as("n_clicks"),
        max(struct(col("view_ts"), col("view_event_id"))).as("w"))
      .select(col("purchase_event_id"), col("user_id"), col("purchase_ts"),
        col("purchase_value"), col("n_clicks"),
        col("w.view_event_id").as("click_event_id"),
        col("w.view_ts").as("click_ts"))
  }

  /** q199: batch run of [[attribution]] over the events table. */
  def q199(s: SparkSession, dir: String): DataFrame =
    attribution(Tables.events(s, dir)).orderBy("purchase_event_id")

  /** q199 oracle: same join window, last-click total order via an
    * explicit (ts DESC, id DESC) rank instead of the struct MAX. */
  val attributionOracleSql: String =
    s"""WITH b AS (SELECT event_id, ts, user_id, event_type, value FROM events
       |  WHERE ts IS NOT NULL AND user_id IS NOT NULL AND event_id IS NOT NULL),
       |c AS (SELECT user_id, event_id AS view_event_id, ts AS view_ts
       |  FROM b WHERE event_type = 'click'),
       |p AS (SELECT user_id, event_id AS purchase_event_id, ts AS purchase_ts,
       |    value AS purchase_value FROM b WHERE event_type = 'purchase'),
       |j AS (SELECT p.purchase_event_id, p.user_id, p.purchase_ts,
       |    p.purchase_value, c.view_event_id, c.view_ts
       |  FROM p JOIN c ON p.user_id = c.user_id
       |    AND p.purchase_ts > c.view_ts
       |    AND p.purchase_ts <= c.view_ts + INTERVAL ${graft.operators.Temporal.IntervalSeconds} SECONDS),
       |r AS (SELECT *,
       |    ROW_NUMBER() OVER (PARTITION BY purchase_event_id
       |      ORDER BY view_ts DESC, view_event_id DESC) AS rn,
       |    CAST(COUNT(*) OVER (PARTITION BY purchase_event_id) AS BIGINT) AS n_clicks
       |  FROM j)
       |SELECT purchase_event_id, user_id, purchase_ts, purchase_value, n_clicks,
       |  view_event_id AS click_event_id, view_ts AS click_ts
       |FROM r WHERE rn = 1 ORDER BY purchase_event_id""".stripMargin
}
