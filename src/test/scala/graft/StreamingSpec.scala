package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.Streams

case class E(event_id: Long, ts: Timestamp, user_id: Long, event_type: String, value: Double)
case class V(vec_id: Long, embedding: Array[Float])

class StreamingSpec extends SparkTestBase {

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")
  private def tsAt(hour: Int, minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 $hour%02d:$minute%02d:00")

  test("tumblingAgg over a stream: per-hour per-type counts with watermark") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val src = MemoryStream[E]
    val q = Streams.tumblingAgg(src.toDF())
      .writeStream.format("memory").queryName("tumbling").outputMode("complete").start()
    try {
      src.addData(
        E(1, tsAt(10, 5), 1, "click", 1.0), E(2, tsAt(10, 20), 1, "click", 2.0),
        E(3, tsAt(10, 40), 2, "view", 3.0), E(4, tsAt(11, 5), 1, "click", 4.0))
      q.processAllAvailable()
      val rows = spark.table("tumbling").collect()
        .map(r => (r.getAs[Timestamp]("window_start").toString, r.getAs[String]("event_type"),
          r.getAs[Long]("n_events"), r.getAs[Double]("total_value"))).toSet
      assert(rows === Set(
        ("2024-01-01 10:00:00.0", "click", 2L, 3.0),
        ("2024-01-01 10:00:00.0", "view", 1L, 3.0),
        ("2024-01-01 11:00:00.0", "click", 1L, 4.0)))
    } finally q.stop()
  }

  test("dedupReplays over a stream drops redelivered event_ids") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val src = MemoryStream[E]
    val q = Streams.dedupReplays(src.toDF())
      .writeStream.format("memory").queryName("dedup").outputMode("append").start()
    try {
      src.addData(E(1, ts(0), 1, "click", 1.0), E(2, ts(1), 1, "view", 2.0))
      q.processAllAvailable()
      src.addData(E(1, ts(0), 1, "click", 1.0), E(3, ts(2), 2, "click", 3.0)) // replay of 1
      q.processAllAvailable()
      val ids = spark.table("dedup").select("event_id").collect().map(_.getLong(0)).sorted
      assert(ids.toSeq === Seq(1L, 2L, 3L))
    } finally q.stop()
  }

  /** Drive sessionizeStream over the given micro-batch split, flush by
    * advancing the watermark far past every event (twice: the watermark
    * a batch runs with comes from the PREVIOUS batch's max event time),
    * and return the emitted sessions minus the flush sentinels. */
  private def runSessionSplit(name: String, batches: Seq[Seq[E]]):
      Set[(Long, String, String, Long, Double)] = {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val src = MemoryStream[E]
    val q = Streams.sessionizeStream(src.toDF(), gapSeconds = 600)
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      batches.foreach { b => src.addData(b: _*); q.processAllAvailable() }
      src.addData(E(9000, tsAt(13, 0), 99, "z", 0.0)); q.processAllAvailable()
      src.addData(E(9001, tsAt(13, 1), 99, "z", 0.0)); q.processAllAvailable()
      spark.table(name).collect()
        .filter(_.getAs[Long]("user_id") != 99L)
        .map(r => (r.getAs[Long]("user_id"),
          r.getAs[Timestamp]("session_start").toString.take(19),
          r.getAs[Timestamp]("session_end").toString.take(19),
          r.getAs[Long]("n_events"), r.getAs[Double]("total_value"))).toSet
    } finally q.stop()
  }

  test("sessionizeStream closes a session once the watermark passes its gap") {
    val out = runSessionSplit("sessions", Seq(
      Seq(E(1, ts(0), 1, "a", 1.0), E(2, ts(5), 1, "a", 2.0)),
      Seq(E(3, ts(45), 1, "a", 3.0))))
    assert(out === Set(
      (1L, "2024-01-01 10:00:00", "2024-01-01 10:05:00", 2L, 3.0),
      (1L, "2024-01-01 10:45:00", "2024-01-01 10:45:00", 1L, 3.0)))
  }

  test("sessionizeStream: a late in-gap event from a later micro-batch moves session_start back") {
    val out = runSessionSplit("sess_late", Seq(
      Seq(E(1, ts(10), 1, "a", 1.0), E(2, ts(15), 1, "a", 2.0)),
      // late arrival (within watermark) BEFORE the open session's start but
      // within the gap: must merge and extend the start backwards
      Seq(E(3, ts(4), 1, "a", 4.0)),
      Seq(E(4, ts(50), 1, "a", 0.5))))
    assert(out === Set(
      (1L, "2024-01-01 10:04:00", "2024-01-01 10:15:00", 3L, 7.0),
      (1L, "2024-01-01 10:50:00", "2024-01-01 10:50:00", 1L, 0.5)))
  }

  test("sessionizeStream replays the batch analog exactly under 1/2/3-batch splits") {
    import spark.implicits._
    // user 1: e3 arrives late and BRIDGES e1's and e2's sessions into one;
    // user 2: two late events spanning one old session arrive in DIFFERENT
    // micro-batches while a newer session is open — the case a single-open-
    // session state would emit as two fragments
    val e1 = E(1, ts(0), 1, "a", 1.0);  val e2 = E(2, ts(20), 1, "a", 2.0)
    val e3 = E(3, ts(10), 1, "a", 4.0); val e4 = E(4, tsAt(11, 0), 1, "a", 0.5)
    val g0 = E(7, ts(40), 2, "b", 8.0)
    val f1 = E(5, ts(0), 2, "b", 1.0);  val f2 = E(6, ts(8), 2, "b", 2.0)
    val all = Seq(e1, e2, e3, e4, g0, f1, f2)
    val expected = Streams.sessionizeBatch(all.toDF(), gapSeconds = 600).collect()
      .map(r => (r.getAs[Long]("user_id"),
        r.getAs[Any]("session_start").toString.take(19),
        r.getAs[Any]("session_end").toString.take(19),
        r.getAs[Long]("n_events"), r.getAs[Double]("total_value"))).toSet
    val one   = runSessionSplit("sess_split1", Seq(all))
    val two   = runSessionSplit("sess_split2",
      Seq(Seq(e1, e2, f1), Seq(e3, f2, g0, e4)))
    val three = runSessionSplit("sess_split3",
      Seq(Seq(e1, g0), Seq(e2, e3, f1), Seq(f2, e4)))
    assert(one === expected, "1-batch split diverged from batch")
    assert(two === expected, "2-batch split diverged from batch")
    assert(three === expected, "3-batch split diverged from batch")
  }

  test("q131 builtin session_window equals q20's lag form INCLUDING the " +
      "exactly-gap boundary (closed-interval merge)") {
    import spark.implicits._
    def at(sec: Long) = new Timestamp(Timestamp.valueOf("2024-01-01 10:00:00").getTime + sec * 1000)
    // gaps of exactly 1799 s (in-session), exactly 1800 s (the boundary:
    // the built-in merges the CLOSED interval, same as lag's `> gap`),
    // then 1801 s (new session for both); second user off the boundary
    val ev = Seq(
      E(1, at(0), 1, "a", 1.0),
      E(2, at(1799), 1, "a", 2.0),
      E(3, at(1799 + 1800), 1, "a", 4.0),
      E(4, at(1799 + 1800 + 1801), 1, "a", 8.0),
      E(5, at(100), 2, "b", 1.0), E(6, at(5000), 2, "b", 2.0)).toDF()
    def shape(df: org.apache.spark.sql.DataFrame, seqCol: String) =
      df.collect().map(r => (r.getAs[Long]("user_id"), r.getAs[Long](seqCol),
        r.getAs[Any]("session_start").toString, r.getAs[Any]("session_end").toString,
        r.getAs[Long]("n_events"), r.getAs[Double]("total_value"))).toSeq
    val builtin = shape(Streams.sessionizeBuiltin(ev), "session_seq")
    val lagForm = shape(Streams.sessionizeBatch(ev), "session_id")
    assert(builtin === lagForm)
    // and the boundary really was exercised: user 1 has TWO sessions,
    // the first holding the 1799 s and exactly-1800 s gaps (3 events)
    assert(builtin.filter(_._1 == 1L).map(_._5) === Seq(3L, 1L))
  }

  test("q131 builtin session_window runs under Structured Streaming and " +
      "emits the watermark-closed sessions") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[E]
    // streaming append mode: the per-user ordinal (a batch row_number) is
    // batch-only; the streaming surface is the session intervals, same
    // groupBy(session_window) core sessionizeBuiltin wraps
    val sessions = src.toDF().withWatermark("ts", "1 hour")
      .groupBy(col("user_id"), session_window(col("ts"), "1800 seconds"))
      .agg(count(lit(1)).as("n_events"))
    val q = sessions.writeStream.format("memory").queryName("swq131")
      .outputMode("append").start()
    try {
      src.addData(E(1, ts(0), 1, "a", 1.0), E(2, ts(5), 1, "a", 2.0))
      q.processAllAvailable()
      // advance the watermark far past the first session's close
      src.addData(E(3, tsAt(14, 0), 1, "a", 3.0))
      q.processAllAvailable()
      val closed = spark.table("swq131").collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("n_events")))
      assert(closed.toSeq === Seq((1L, 2L)))
    } finally q.stop()
  }

  test("upsertSinkBucketed: micro-batches MERGE into a versioned snapshot (Hadoop file:// URI)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // explicit scheme-qualified URI: staging, rename, manifest and the
    // _commits claim must go through the table path's Hadoop FileSystem,
    // not the driver's local NIO
    val dir = "file://" + java.nio.file.Files.createTempDirectory("graft_upsert").toString
    val src = MemoryStream[E]
    val q = Streams.upsertSinkBucketed(src.toDF(), dir, Seq("event_id"), numBuckets = 4).start()
    try {
      src.addData(E(1, ts(0), 1, "a", 1.0), E(2, ts(1), 1, "a", 2.0))
      q.processAllAvailable()
      src.addData(E(2, ts(2), 9, "b", 20.0), E(3, ts(3), 2, "a", 3.0)) // update id 2, insert 3
      q.processAllAvailable()
      val snap = Streams.readLatestBucketed(spark, dir).get.collect()
        .map(r => r.getAs[Long]("event_id") ->
          (r.getAs[Long]("user_id"), r.getAs[Double]("value"))).toMap
      assert(snap.keySet === Set(1L, 2L, 3L))
      assert(snap(1L) === ((1L, 1.0)))   // untouched
      assert(snap(2L) === ((9L, 20.0)))  // batch row won
      assert(snap(3L) === ((2L, 3.0)))   // inserted
    } finally q.stop()
  }

  test("upsertSinkBucketed: only touched buckets rewrite; vacuum sweeps unreferenced versions") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = "file://" + java.nio.file.Files.createTempDirectory("graft_bucketed").toString
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def bucketFiles(v: Long): Map[String, (Long, Long)] = {
      val base = new org.apache.hadoop.fs.Path(s"$dir/v$v")
      fs.listStatus(base).filter(_.isDirectory).flatMap(d =>
        fs.listStatus(d.getPath).filter(_.getPath.getName.endsWith(".parquet")).map(f =>
          s"${d.getPath.getName}/${f.getPath.getName}" ->
            (f.getLen, f.getModificationTime))).toMap
    }
    val src = MemoryStream[E]
    val q = Streams.upsertSinkBucketed(src.toDF(), dir, Seq("event_id"),
      numBuckets = 4, retainVersions = 1).start()
    try {
      src.addData((1L to 8L).map(i => E(i, ts(i.toInt), i, "a", i.toDouble)): _*)
      q.processAllAvailable()
      val v0Files = bucketFiles(0)
      assert(v0Files.nonEmpty)
      val b1 = spark.range(1, 2).select(
        Streams.bucketExpr(Seq("id"), 4)).first().getInt(0) // bucket of key 1
      // batch 1 updates ONLY key 1 → only its bucket rewrites
      src.addData(E(1, ts(30), 9, "b", 100.0))
      q.processAllAvailable()
      val m1 = Streams.readManifest(spark, dir, 1)
      assert(m1(b1) === 1L, "touched bucket must point at the new version")
      assert(m1.count(_._2 == 0L) === m1.size - 1, "all other buckets stay at v0")
      // untouched v0 bucket files are byte-for-byte untouched on disk
      val v0After = bucketFiles(0)
      assert(v0After.view.filterKeys(!_.startsWith(s"__bucket=$b1")).toMap ===
        v0Files.view.filterKeys(!_.startsWith(s"__bucket=$b1")).toMap)
      // snapshot equals a full-table reference merge
      val snap = Streams.currentSnapshotBucketed(spark, dir).get.collect()
        .map(r => r.getAs[Long]("event_id") ->
          (r.getAs[Long]("user_id"), r.getAs[Double]("value"))).toMap
      assert(snap.keySet === (1L to 8L).toSet)
      assert(snap(1L) === ((9L, 100.0)) && snap(2L) === ((2L, 2.0)))
      // batch 2 touches every bucket → v0 and v1 become unreferenced.
      // v0 is past the retain window → swept; v1 (= latest-1) survives
      // ONE more commit — the grace window for a reader that resolved
      // the previous manifest just before this commit landed
      src.addData((1L to 8L).map(i => E(i, ts(40 + i.toInt), i, "c", -i.toDouble)): _*)
      q.processAllAvailable()
      assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/v0")), "v0 not swept")
      assert(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/v1")),
        "v1 is latest-1 and must survive the grace window")
      val snap2 = Streams.currentSnapshotBucketed(spark, dir).get.collect()
        .map(r => r.getAs[Long]("event_id") -> r.getAs[Double]("value")).toMap
      assert(snap2 === (1L to 8L).map(i => i -> -i.toDouble).toMap)
      // one more commit pushes v1 past the grace window → swept
      src.addData(E(1, ts(60), 9, "d", 1000.0))
      q.processAllAvailable()
      assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/v1")),
        "v1 not swept after the grace window elapsed")
      assert(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/v2")),
        "v2 still referenced by the latest manifest (untouched buckets)")
    } finally q.stop()
  }

  test("time travel: readVersionBucketed resolves THAT version's manifest") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = "file://" + java.nio.file.Files.createTempDirectory("graft_ttb").toString
    val src = MemoryStream[E]
    // big retention so history survives for the reads below
    val q = Streams.upsertSinkBucketed(src.toDF(), dir, Seq("event_id"),
      numBuckets = 4, retainVersions = 100).start()
    def snap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("event_id"), r.getAs[Double]("value"))).sorted.toSeq
    try {
      src.addData((1L to 8L).map(i => E(i, ts(i.toInt), i, "a", i.toDouble)): _*)
      q.processAllAvailable()
      val v0 = snap(Streams.currentSnapshotBucketed(spark, dir).get)
      src.addData(E(1, ts(30), 9, "b", 100.0)) // touches one bucket
      q.processAllAvailable()
      val v1 = snap(Streams.currentSnapshotBucketed(spark, dir).get)
      src.addData(E(2, ts(40), 9, "c", -2.0))
      q.processAllAvailable()
      // v1's manifest mixes buckets from v0 and v1 — the as-of read must
      // reproduce the mixed view, not the current one
      assert(snap(Streams.readVersionBucketed(spark, dir, 0).get) === v0)
      assert(snap(Streams.readVersionBucketed(spark, dir, 1).get) === v1)
      assert(snap(Streams.readLatestBucketed(spark, dir).get) ===
        snap(Streams.readVersionBucketed(spark, dir, 2).get))
      assert(Streams.readVersionBucketed(spark, dir, 9).isEmpty)
    } finally q.stop()
  }

  test("latestCommittedVersionBelow: scans the whole log, not just the latest commit") {
    // checkpoint-reset shape: the log holds commits {0, 2, 5}; a replayed
    // batchId of 1 or 5 must find the greatest commit STRICTLY below it.
    // Resolving via latestCommittedVersion(...).filter(_ < bound) yields
    // None whenever the single latest commit is >= bound — the base would
    // silently be empty and the merge would publish a manifest that lost
    // every base row.
    val dir = "file://" + java.nio.file.Files.createTempDirectory("graft_below").toString
    Seq(0L, 2L, 5L).foreach(v => assert(Streams.tryCommitVersion(spark, dir, v)))
    assert(Streams.latestCommittedVersion(spark, dir) === Some(5L))
    assert(Streams.latestCommittedVersionBelow(spark, dir, 0) === None)
    assert(Streams.latestCommittedVersionBelow(spark, dir, 1) === Some(0L))
    assert(Streams.latestCommittedVersionBelow(spark, dir, 5) === Some(2L))
    assert(Streams.latestCommittedVersionBelow(spark, dir, 9) === Some(5L))
  }

  test("vacuum grace window: a reader holding the PREVIOUS manifest survives " +
      "a concurrent commit + vacuum (round-6 task #5)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = "file://" + java.nio.file.Files.createTempDirectory("graft_greader").toString
    val src = MemoryStream[E]
    val q = Streams.upsertSinkBucketed(src.toDF(), dir, Seq("event_id"),
      numBuckets = 4, retainVersions = 1).start()
    try {
      src.addData((1L to 8L).map(i => E(i, ts(i.toInt), i, "a", i.toDouble)): _*)
      q.processAllAvailable()
      src.addData((1L to 8L).map(i => E(i, ts(10 + i.toInt), i, "b", 10.0 * i)): _*)
      q.processAllAvailable()
      // reader resolves the CURRENT latest (v1) lazily — plan built, not read
      val held = Streams.readVersionBucketed(spark, dir, 1).get
        .select("event_id", "value")
      // a new commit lands and its sink-triggered vacuum runs: v0 (now
      // latest-2, unreferenced) is swept, v1 (latest-1) is inside the
      // grace window and must remain fully readable for the held plan
      src.addData((1L to 8L).map(i => E(i, ts(30 + i.toInt), i, "c", -i.toDouble)): _*)
      q.processAllAvailable()
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/v0")), "v0 should be swept")
      val got = held.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(got === (1L to 8L).map(i => i -> 10.0 * i).toMap,
        "the held previous-manifest reader lost files to the vacuum")
    } finally q.stop()
  }

  test("mergeBucketedBatch: a checkpoint-reset REPLAY of the same batchId is " +
      "idempotent and keeps the base (round-6 task #6)") {
    import spark.implicits._
    val dir = "file://" + java.nio.file.Files.createTempDirectory("graft_replayb").toString
    def batch(rows: (Long, Double)*) =
      rows.map { case (k, v) => E(k, ts(k.toInt), k, "a", v) }.toDF()
    def snap() = Streams.currentSnapshotBucketed(spark, dir).get.collect()
      .map(r => r.getAs[Long]("event_id") -> r.getAs[Double]("value")).toMap
    Streams.mergeBucketedBatch(batch(1L -> 1.0, 2L -> 2.0), dir, Seq("event_id"), 4, 0L)
    Streams.mergeBucketedBatch(batch(2L -> 20.0, 3L -> 3.0), dir, Seq("event_id"), 4, 1L)
    val expected = Map(1L -> 1.0, 2L -> 20.0, 3L -> 3.0)
    assert(snap() === expected)
    // checkpoint reset: batch 1 replays with the SAME id. The base must
    // resolve strictly below the replayed id (v0), not the latest commit
    // (v1 >= 1 would yield an empty base and silently drop row 1), and
    // the already-published v1 dir must survive the losing re-publish.
    Streams.mergeBucketedBatch(batch(2L -> 20.0, 3L -> 3.0), dir, Seq("event_id"), 4, 1L)
    assert(snap() === expected, "replayed batch changed the snapshot")
    // a LATER batch after the replay still merges on top correctly
    Streams.mergeBucketedBatch(batch(1L -> -1.0), dir, Seq("event_id"), 4, 2L)
    assert(snap() === Map(1L -> -1.0, 2L -> 20.0, 3L -> 3.0))
  }

  // The merge reads a micro-batch more than once (touched-bucket collect,
  // union side, anti-join build side); each read of an unmaterialised
  // batch re-runs its stateful source plan, which the state store's
  // per-batch numRowsUpdated counts once per execution.
  test("upsertSinkBucketed runs each micro-batch's stateful plan once and leaves no blocks behind") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = "file://" + java.nio.file.Files.createTempDirectory("graft_once").toString
    val n = 40
    val src = MemoryStream[E]
    val persisted = spark.sparkContext.getPersistentRDDs.size
    val q = Streams.upsertSinkBucketed(Streams.dedupReplays(src.toDF()), dir,
      Seq("event_id"), numBuckets = 4).start()
    try {
      // the second batch merges into the first's snapshot
      src.addData((1 to n).map(i => E(i, ts(i % 30), i, "a", i.toDouble)): _*)
      q.processAllAvailable()
      src.addData((n + 1 to 2 * n).map(i => E(i, ts(30 + i % 30), i, "b", i.toDouble)): _*)
      q.processAllAvailable()
      val updated = q.recentProgress.filter(_.numInputRows > 0)
        .map(_.stateOperators(0).numRowsUpdated).toSeq
      assert(updated === Seq(n.toLong, n.toLong))
      assert(Streams.readLatestBucketed(spark, dir).get.count() === 2 * n)
      assert(spark.sparkContext.getPersistentRDDs.size <= persisted,
        "a trigger left its materialised batch persisted")
    } finally q.stop()
  }

  test("bucketed readers build a snapshot spanning 4 buckets and 2 versions without a Spark job") {
    import spark.implicits._
    val dir = "file://" + java.nio.file.Files.createTempDirectory("graft_readjobs").toString
    def batch(ids: Seq[Long], v: Double) = ids.map(k => E(k, ts(k.toInt), k, "a", v)).toDF()
    Streams.mergeBucketedBatch(batch(1L to 32L, 1.0), dir, Seq("event_id"), 4, 0L)
    Streams.mergeBucketedBatch(batch(Seq(1L), 2.0), dir, Seq("event_id"), 4, 1L)
    val m = Streams.readManifest(spark, dir, 1)
    assert(m.size === 4 && m.values.toSet === Set(0L, 1L))
    // the manifest carries the schema, so no footer-inference job
    assert(jobsDuring(Streams.readLatestBucketed(spark, dir).get) === 0)
    assert(jobsDuring(Streams.readVersionBucketed(spark, dir, 1).get) === 0)
  }

  // The benchmark's shape: a file source and stateful dedup. A stateful
  // micro-batch runs without adaptive execution, so each shuffle is a
  // stage of its action's job, not a job of its own.
  test("upsertSinkBucketed: a data trigger onto an existing version runs at most 3 Spark jobs") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_trigjobs").toString
    val (in, dir) = (s"$root/in", s"file://$root/sink")
    def land(ids: Seq[Long], v: Double): Unit = ids.map(i => E(i, ts(i.toInt % 60), i, "a", v))
      .toDF().coalesce(1).write.mode("append").json(in)
    land(1L to 32L, 1.0)
    val stream = spark.readStream.schema(org.apache.spark.sql.Encoders.product[E].schema).json(in)
    val q = Streams.upsertSinkBucketed(Streams.dedupReplays(stream), dir, Seq("event_id"),
      numBuckets = 4).start()
    try {
      q.processAllAvailable()
      val started = jobPropertiesDuring { land(33L to 40L, 2.0); q.processAllAvailable() }
      val data = q.recentProgress.filter(_.numInputRows > 0).last.batchId.toString
      // touched-bucket collect, broadcast build, write: the merge base is
      // read with the manifest's schema, not inferred
      val jobs = started.count(_.getProperty("streaming.sql.batchId") == data)
      assert(jobs <= 3, s"$jobs jobs")
      assert(Streams.readLatestBucketed(spark, dir).get.count() === 40)
    } finally q.stop()
  }

  test("mergeBucketedBatch writes one file per touched bucket from a multi-partition batch") {
    import spark.implicits._
    val dir = "file://" + java.nio.file.Files.createTempDirectory("graft_layout").toString
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def batch(ids: Seq[Long], v: Double) =
      ids.map(k => E(k, ts(k.toInt % 60), k, "a", v)).toDF().repartition(8)
    Streams.mergeBucketedBatch(batch(1L to 64L, 1.0), dir, Seq("event_id"), 4, 0L)
    Streams.mergeBucketedBatch(batch(1L to 64L by 3, 2.0), dir, Seq("event_id"), 4, 1L)
    val bucketDirs = Seq(0L, 1L).flatMap(v =>
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/v$v"))
        .filter(_.getPath.getName.startsWith("__bucket=")).map(_.getPath))
    assert(bucketDirs.size === 8, bucketDirs.mkString(","))
    bucketDirs.foreach { d =>
      val files = fs.listStatus(d).map(_.getPath.getName).filter(_.endsWith(".parquet"))
      assert(files.length === 1, s"$d holds ${files.mkString(",")}")
    }
    val snap = Streams.readLatestBucketed(spark, dir).get
      .select("event_id", "value").as[(Long, Double)].collect().toMap
    assert(snap === (1L to 64L).map(k => k -> (if (k % 3 == 1) 2.0 else 1.0)).toMap)
  }

  test("the manifest's schema is the one inference reads from the table's files") {
    import spark.implicits._
    val dir = "file://" + java.nio.file.Files.createTempDirectory("graft_schema").toString
    // non-nullable top-level, struct and array fields: parquet stores them all nullable
    val batch = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
      .select(col("k"), col("v"), struct(col("k").as("kk"), lit(1).as("one")).as("s"),
        array(col("k")).as("arr"))
    Streams.mergeBucketedBatch(batch, dir, Seq("k"), 4, 0L)
    val dirs = Streams.readManifest(spark, dir, 0).toSeq.map { case (b, v) => s"$dir/v$v/__bucket=$b" }
    assert(Streams.readLatestBucketed(spark, dir).get.schema ===
      spark.read.parquet(dirs: _*).schema)
  }

  test("mergeBucketedBatch: a batch whose columns differ from the table's fails at the merge") {
    import spark.implicits._
    val dir = "file://" + java.nio.file.Files.createTempDirectory("graft_mismatch").toString
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Streams.mergeBucketedBatch(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), dir, Seq("k"), 4, 0L)
    intercept[org.apache.spark.sql.AnalysisException] {
      Streams.mergeBucketedBatch(Seq((1L, 9.0)).toDF("k", "w"), dir, Seq("k"), 4, 1L)
    }
    assert(Streams.latestCommittedVersion(spark, dir) === Some(0L))
    val names = fs.listStatus(new org.apache.hadoop.fs.Path(dir)).map(_.getPath.getName)
    assert(!names.exists(n => n.startsWith("_staging-") || n == "v1"), names.mkString(","))
  }

  test("mergeBucketedBatch equals a chained Merge.upsertSnapshot, NULL keys and " +
      "buckets re-touched by later batches included") {
    import spark.implicits._
    val dir = "file://" + java.nio.file.Files.createTempDirectory("graft_bdiff").toString
    val batches = Seq(
      (1L to 32L).map(k => (Option(k), s"a$k")) :+ (None -> "a-null"),
      Seq(Some(1L) -> "b1", Some(5L) -> "b5", Some(9L) -> "b9", None -> "b-null"),
      Seq(Some(2L) -> "c2", Some(5L) -> "c5", None -> "c-null")
    ).map(_.toDF("k", "v"))
    batches.zipWithIndex.foreach { case (b, i) =>
      Streams.mergeBucketedBatch(b, dir, Seq("k"), 4, i.toLong) }
    val chained = batches.reduceLeft((base, b) =>
      graft.operators.Merge.upsertSnapshot(base, b, Seq("k")))
    def rows(df: org.apache.spark.sql.DataFrame) = df.select("k", "v").collect()
      .map(r => (Option(r.get(0)).map(_.asInstanceOf[Long]), r.getString(1)))
      .toSeq.sortBy(_.toString)
    val expected = rows(chained)
    assert(expected.count(_._1.isEmpty) === 3 && expected.contains(Some(5L) -> "c5"))
    assert(Streams.readManifest(spark, dir, 2).size === 4)
    assert(rows(Streams.readLatestBucketed(spark, dir).get) === expected)
  }

  test("upsertSinkBucketed: replay heals a version published before a crash stole the claim") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = "file://" + java.nio.file.Files.createTempDirectory("graft_heal").toString
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // simulate a crashed incarnation: batch 0's bucket and manifest fully
    // published at v0 but the process died before claiming _commits/0
    val b = spark.range(1, 2).select(Streams.bucketExpr(Seq("id"), 4)).first().getInt(0)
    Seq(E(1, ts(0), 1, "a", 1.0)).toDF().write.parquet(s"$dir/v0/__bucket=$b")
    val out = fs.create(new org.apache.hadoop.fs.Path(s"$dir/v0/_manifest"))
    try out.write(s"$b:0".getBytes("UTF-8")) finally out.close()
    assert(Streams.latestCommittedVersion(spark, dir) === None)
    val src = MemoryStream[E]
    val q = Streams.upsertSinkBucketed(src.toDF(), dir, Seq("event_id"), numBuckets = 4).start()
    try {
      src.addData(E(1, ts(0), 1, "a", 1.0)) // the replayed batch 0
      q.processAllAvailable()
      // claim completed, published data intact, no read-own-write crash
      assert(Streams.latestCommittedVersion(spark, dir) === Some(0L))
      assert(Streams.readManifest(spark, dir, 0) === Map(b -> 0L))
      val snap = Streams.readLatestBucketed(spark, dir).get.collect()
      assert(snap.length === 1 && snap.head.getAs[Long]("event_id") === 1L)
      // no staging leftovers
      val staged = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
        .map(_.getPath.getName).filter(_.startsWith("_staging"))
      assert(staged.isEmpty, s"staging dirs left behind: ${staged.mkString(",")}")
    } finally q.stop()
  }

  test("parseJsonEnvelope: an all-null but valid payload is NOT malformed") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("guid", StringType), StructField("n", LongType)))
    val raw = Seq(
      ("k1", """{}""", ts(0)),
      ("k2", """{"guid":null,"n":null}""", ts(1)),
      ("k3", """definitely not json""", ts(2))
    ).toDF("key", "value", "timestamp")
    val out = graft.sources.Ingest.parseJsonEnvelope(raw, schema).collect()
      .map(r => r.getAs[String]("key") -> r.getAs[Boolean]("is_malformed")).toMap
    assert(out === Map("k1" -> false, "k2" -> false, "k3" -> true))
  }

  test("commit log: a concurrent claim of the same version loses") {
    val dir = "file://" + java.nio.file.Files.createTempDirectory("graft_commits").toString
    assert(Streams.tryCommitVersion(spark, dir, 0L))
    // a second writer racing to the same version must lose the claim
    assert(!Streams.tryCommitVersion(spark, dir, 0L))
    assert(Streams.latestCommittedVersion(spark, dir) === Some(0L))
    // the next version's claim is what readers resolve, no pointer needed
    assert(Streams.tryCommitVersion(spark, dir, 1L))
    assert(Streams.latestCommittedVersion(spark, dir) === Some(1L))
  }

  test("publishVersion: a stage that throws leaves no staging dir, no version and no claim") {
    val dir = "file://" + java.nio.file.Files.createTempDirectory("graft_leak").toString
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    intercept[RuntimeException] {
      Streams.publishVersion(spark, dir, 3L) { staging =>
        fs.mkdirs(staging)
        fs.create(new org.apache.hadoop.fs.Path(staging, "part-00000.parquet")).close()
        throw new RuntimeException("merge write failed")
      }
    }
    val names = fs.listStatus(new org.apache.hadoop.fs.Path(dir)).map(_.getPath.getName)
    assert(!names.exists(_.startsWith("_staging-")), s"staging left behind: ${names.mkString(",")}")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/v3")), "a failed stage published")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/_commits/3")), "a failed stage claimed")
  }

  test("intervalJoinStream: purchases join prior views within the window, across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val views = MemoryStream[E]
    val purchases = MemoryStream[E]
    val q = Streams.intervalJoinStream(views.toDF(), purchases.toDF(),
        windowSeconds = 1800)
      .writeStream.format("memory").queryName("ivj").outputMode("append").start()
    try {
      views.addData(E(1, ts(0), 1, "view", 0.0), E(2, ts(10), 2, "view", 0.0))
      q.processAllAvailable()
      purchases.addData(
        E(10, ts(20), 1, "purchase", 5.0),  // 20 min after view 1 -> joins
        E(11, ts(50), 2, "purchase", 6.0),  // 40 min after view 2 -> outside window
        E(12, ts(25), 3, "purchase", 7.0))  // no view for user 3
      q.processAllAvailable()
      val out = spark.table("ivj").collect()
        .map(r => (r.getAs[Long]("view_event_id"), r.getAs[Long]("purchase_event_id"),
          r.getAs[Double]("purchase_value")))
      assert(out.toSeq === Seq((1L, 10L, 5.0)))
    } finally q.stop()
  }

  test("intervalJoinStream batch mode matches the bucketed rewrite (q58)") {
    val e = graft.Tables.events(spark, sfDir)
    val direct = Streams.intervalJoinStream(
      e.filter(col("event_type") === "view"),
      e.filter(col("event_type") === "purchase"))
      .select("view_event_id", "purchase_event_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val bucketed = graft.operators.Temporal.intervalJoin(e)
      .select("view_event_id", "purchase_event_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(direct === bucketed)
    assert(direct.nonEmpty)
  }

  test("batch sessionization matches hand-computed sessions") {
    import spark.implicits._
    val e = Seq(
      E(1, ts(0), 7, "a", 1.0), E(2, ts(10), 7, "a", 2.0), // session 1 (gap 30m)
      E(3, ts(55), 7, "a", 3.0),                            // session 2
      E(4, ts(5), 8, "b", 4.0)                              // other user
    ).toDF()
    val out = Streams.sessionizeBatch(e).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("session_id"),
        r.getAs[Long]("n_events"), r.getAs[Double]("total_value")))
    assert(out.toSeq === Seq((7L, 1L, 2L, 3.0), (7L, 2L, 1L, 3.0), (8L, 1L, 1L, 4.0)))
  }

  test("CMS sketch maintained over a stream equals the batch sketch on the same events") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val events = (1 to 60).map(i => E(i.toLong, ts(i % 60), (i % 7).toLong, "e", 1.0))
    val src = MemoryStream[E]
    val q = graft.operators.Sketch.cmsSketch(src.toDF())
      .writeStream.format("memory").queryName("cms_stream").outputMode("complete").start()
    try {
      src.addData(events.take(30): _*)
      q.processAllAvailable()
      src.addData(events.drop(30): _*) // second micro-batch updates counters
      q.processAllAvailable()
      val streamed = spark.table("cms_stream").collect()
        .map(r => (r.getAs[Int]("r"), r.getAs[Long]("c")) -> r.getAs[Long]("cnt")).toMap
      val batch = graft.operators.Sketch.cmsSketch(events.toDF()).collect()
        .map(r => (r.getAs[Int]("r"), r.getAs[Long]("c")) -> r.getAs[Long]("cnt")).toMap
      assert(streamed === batch)
      assert(batch.nonEmpty)
    } finally q.stop()
  }

  test("hopping windows over a stream equal the batch aggregate") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val events = (1 to 90).map(i => E(i.toLong, ts(i % 50), (i % 5).toLong, s"e${i % 2}", i * 0.5))
    val src = MemoryStream[E]
    val q = Streams.hoppingAgg(src.toDF())
      .writeStream.format("memory").queryName("hop_stream").outputMode("complete").start()
    try {
      src.addData(events.take(45): _*)
      q.processAllAvailable()
      src.addData(events.drop(45): _*)
      q.processAllAvailable()
      def key(r: org.apache.spark.sql.Row) =
        (r.getAs[java.sql.Timestamp]("window_start"), r.getAs[String]("event_type"),
          r.getAs[Long]("n_events"), r.getAs[Double]("total_value"))
      val streamed = spark.table("hop_stream").collect().map(key).toSet
      val batch = Streams.hoppingAgg(events.toDF()).collect().map(key).toSet
      assert(streamed === batch)
      assert(batch.nonEmpty)
      // every event lands in exactly two windows
      assert(batch.toSeq.map(_._3).sum == 2L * events.length)
    } finally q.stop()
  }

  test("HLL register table maintained over a stream equals the batch sketch") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // MAX over (group, register) is monotone, so update-mode streaming
    // state IS the sketch: fixed <= 256 rows per group however many
    // events arrive — the streaming form of q74
    val events = (1 to 80).map(i => E(i.toLong, ts(i % 60), (i % 13).toLong, s"e${i % 2}", 1.0))
    val src = MemoryStream[E]
    val q = graft.operators.Hll.registerTable(src.toDF())
      .writeStream.format("memory").queryName("hll_stream").outputMode("complete").start()
    try {
      src.addData(events.take(40): _*)
      q.processAllAvailable()
      src.addData(events.drop(40): _*)
      q.processAllAvailable()
      val streamed = spark.table("hll_stream").collect()
        .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("j")) -> r.getAs[Int]("mj")).toMap
      val batch = graft.operators.Hll.registerTable(events.toDF()).collect()
        .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("j")) -> r.getAs[Int]("mj")).toMap
      assert(streamed === batch)
      assert(batch.nonEmpty)
    } finally q.stop()
  }

  test("attribution: last click wins, ties break to higher id, window closed at +1800s") {
    import spark.implicits._
    val e = Seq(
      // user 1: two clicks before the purchase -> latest (id 2) wins
      E(1, tsAt(10, 0), 1, "click", 0.0), E(2, tsAt(10, 10), 1, "click", 0.0),
      E(20, tsAt(10, 20), 1, "purchase", 5.0),
      // user 2: clicks tied on ts -> higher event_id (4) wins
      E(3, tsAt(10, 5), 2, "click", 0.0), E(4, tsAt(10, 5), 2, "click", 0.0),
      E(21, tsAt(10, 15), 2, "purchase", 6.0),
      // user 3: purchase exactly 1800s after the click -> included;
      // purchase at the same instant as the click -> excluded
      E(5, tsAt(10, 0), 3, "click", 0.0),
      E(22, tsAt(10, 30), 3, "purchase", 7.0),
      E(23, tsAt(10, 0), 3, "purchase", 8.0),
      // user 4: a click AFTER the purchase attributes nothing
      E(6, tsAt(10, 39), 4, "click", 0.0), E(7, tsAt(10, 41), 4, "click", 0.0),
      E(24, tsAt(10, 40), 4, "purchase", 9.0))
    val out = Streams.attribution(e.toDF()).orderBy("purchase_event_id").collect()
      .map(r => (r.getAs[Long]("purchase_event_id"), r.getAs[Long]("click_event_id"),
        r.getAs[Long]("n_clicks")))
    assert(out.toSeq === Seq((20L, 2L, 2L), (21L, 4L, 2L), (22L, 5L, 1L),
      (24L, 6L, 1L)))
  }

  test("attribution stream (self-joined, chained stateful agg) equals batch across micro-batch splits") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val events = Seq(
      E(1, tsAt(10, 0), 1, "click", 0.0), E(2, tsAt(10, 10), 1, "click", 0.0),
      E(20, tsAt(10, 20), 1, "purchase", 5.0),
      E(3, tsAt(10, 5), 2, "click", 0.0), E(4, tsAt(10, 5), 2, "click", 0.0),
      E(21, tsAt(10, 15), 2, "purchase", 6.0),
      E(5, tsAt(10, 0), 3, "click", 0.0), E(22, tsAt(10, 30), 3, "purchase", 7.0))
    // sentinels: advance BOTH arms' watermarks (global watermark is the
    // min) far enough to close every 30-min purchase window above; the
    // sentinel purchase itself has no click within its window, so it
    // appears in neither the batch nor the stream output
    val sentinels = Seq(
      E(90, tsAt(22, 0), 9, "click", 0.0), E(91, tsAt(23, 0), 9, "purchase", 0.0))
    val batch = Streams.attribution((events ++ sentinels).toDF()).collect()
      .map(r => (r.getAs[Long]("purchase_event_id"), r.getAs[Long]("click_event_id"),
        r.getAs[Long]("n_clicks"), r.getAs[Double]("purchase_value"))).toSet
    assert(batch.size === 3)
    for ((split, n) <- Seq(Seq(10), Seq(5, 5), Seq(3, 3, 4)).zipWithIndex) {
      val src = MemoryStream[E]
      val q = Streams.attribution(src.toDF())
        .writeStream.format("memory").queryName(s"attr_$n")
        .outputMode("append").start()
      try {
        val all = events ++ sentinels
        var off = 0
        split.foreach { sz =>
          src.addData(all.slice(off, off + sz): _*); off += sz
          q.processAllAvailable()
        }
        // one extra empty pass lets the closed windows flush
        q.processAllAvailable()
        val streamed = spark.table(s"attr_$n").collect()
          .map(r => (r.getAs[Long]("purchase_event_id"), r.getAs[Long]("click_event_id"),
            r.getAs[Long]("n_clicks"), r.getAs[Double]("purchase_value"))).toSet
        assert(streamed === batch, s"split $split diverged from batch")
      } finally q.stop()
    }
  }

  test("q42 incremental dedup streamed under 1/2/3 micro-batch splits equals batch; " +
      "redelivery is idempotent") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.operators.Dedup
    // planted corpus (validated) + batch: 1 ≈ 0 and 4 ≈ 2 inherit, 3/5
    // mint new, 6 ≈ 7 inherits — same geometry as the SimilaritySpec
    // q42 fixture plus a third corpus direction
    val corpus = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
      (7L, Array(0.0f, 0.0f, 1.0f, 0.0f))).toDF("vec_id", "embedding")
    val batchRows = Seq(
      V(1L, Array(0.999f, 0.001f, 0.0f, 0.0f)),
      V(3L, Array(-1.0f, 0.0f, 0.0f, 0.0f)),
      V(4L, Array(0.0f, 0.999f, 0.001f, 0.0f)),
      V(5L, Array(-0.999f, -0.001f, 0.0f, 0.0f)),
      V(6L, Array(0.0f, 0.0f, 0.97f, 0.2f)))
    // the persisted corpus-side frame the daily loop serves from
    val corpusPre = Dedup.corpusSideEmb(corpus, bits = 2, dim = 4).localCheckpoint()
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("vec_id", "canonical_id", "matched", "best_sim_r").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val expected = rows(Dedup.dedupIncrementalPre(
      corpusPre, batchRows.toDF(), tau = 0.9, bits = 2, dim = 4))
    assert(expected.size === 5)
    val splits: Seq[Seq[Seq[V]]] = Seq(
      Seq(batchRows),
      Seq(batchRows.take(2), batchRows.drop(2)),
      Seq(batchRows.take(2), batchRows.slice(2, 4), batchRows.drop(4)))
    splits.zipWithIndex.foreach { case (bs, i) =>
      val dir = "file://" +
        java.nio.file.Files.createTempDirectory(s"graft_incdedup$i").toString
      val src = MemoryStream[V]
      val q = Streams.dedupIncrementalStream(src.toDF(), corpusPre, dir,
        tau = 0.9, bits = 2, dim = 4).start()
      try {
        bs.foreach { b => src.addData(b: _*); q.processAllAvailable() }
        assert(rows(Streams.currentSnapshotBucketed(spark, dir).get) === expected,
          s"split $i diverged from batch")
        // a redelivered batch upserts identical verdicts — no change
        src.addData(bs.head: _*)
        q.processAllAvailable()
        assert(rows(Streams.currentSnapshotBucketed(spark, dir).get) === expected,
          s"split $i: redelivery changed the snapshot")
      } finally q.stop()
    }
  }
}
