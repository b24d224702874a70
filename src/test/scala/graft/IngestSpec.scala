package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.Ingest

class IngestSpec extends SparkTestBase {
  import spark.implicits._

  private val payloadSchema = StructType(Seq(
    StructField("guid", StringType),
    StructField("title", StringType),
    StructField("n", LongType)))

  test("parseJsonEnvelope: typed columns + ingestion metadata + malformed flag") {
    val raw = Seq(
      ("k1", """{"guid":"g1","title":"t1","n":5}""", Timestamp.valueOf("2024-01-01 00:00:00")),
      ("k2", """not json at all""", Timestamp.valueOf("2024-01-01 00:01:00")),
      ("k3", null.asInstanceOf[String], Timestamp.valueOf("2024-01-01 00:02:00"))
    ).toDF("key", "value", "timestamp")
    val out = Ingest.parseJsonEnvelope(raw, payloadSchema).collect()
      .map(r => (r.getAs[String]("key"), Option(r.getAs[String]("guid")),
        Option(r.getAs[Any]("n")), r.getAs[Boolean]("is_malformed"))).toSeq
    assert(out === Seq(
      ("k1", Some("g1"), Some(5L), false),
      ("k2", None, None, true),
      ("k3", None, None, false)))
  }

  test("parseJsonEnvelope keeps a payload field named 'value'") {
    // the envelope column is also called `value` — the parsed field must
    // survive the envelope drop (regression: drop order deleted it)
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("value", DoubleType)))
    val raw = Seq(
      ("k1", """{"id":7,"value":3.5}""", Timestamp.valueOf("2024-01-01 00:00:00"))
    ).toDF("key", "value", "timestamp")
    val out = Ingest.parseJsonEnvelope(raw, schema).collect().head
    assert(out.getAs[Long]("id") === 7L)
    assert(out.getAs[Double]("value") === 3.5)
    assert(!out.getAs[Boolean]("is_malformed"))
  }

  test("readJsonStream: schema-enforced file stream feeds the same transforms") {
    val dir = java.nio.file.Files.createTempDirectory("graft_jsonl").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "a.json"),
      """{"guid":"g1","title":"t1","n":1}
        |{"guid":"g2","title":"t2","n":2}""".stripMargin.getBytes("UTF-8"))
    val q = Ingest.readJsonStream(spark, dir, payloadSchema)
      .groupBy(col("guid")).agg(sum(col("n")).as("total"))
      .writeStream.format("memory").queryName("jsonl_stream").outputMode("complete").start()
    try {
      q.processAllAvailable()
      val rows = spark.table("jsonl_stream").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(rows === Map("g1" -> 1L, "g2" -> 2L))
    } finally q.stop()
  }

  test("end-to-end stream: envelope -> parse -> quarantine -> replay dedup -> MERGE sink") {
    // the reference's full Kafka->raw->cleansed medallion flow as ONE
    // Structured Streaming graph over the library's pieces
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dir = java.nio.file.Files.createTempDirectory("e2e_stream").toString
    val src = MemoryStream[(String, String, Timestamp)]
    val parsed = Ingest.parseJsonEnvelope(
        src.toDF().toDF("key", "value", "timestamp")
          .withColumn("ts", col("timestamp")), // event-time for the watermark
        payloadSchema)
      .filter(!col("is_malformed"))
    val cleansed = graft.streaming.Streams.dedupReplays(
        parsed.select(col("guid").as("event_id"), col("title"), col("n"),
          col("ts"), col("ingestion_time")))
      .drop("ts")
    val q = graft.streaming.Streams.upsertSinkBucketed(cleansed, dir, Seq("event_id"),
        numBuckets = 4)
      .option("checkpointLocation", s"$dir/_ckpt").start()
    try {
      src.addData(
        ("k1", """{"guid":"g1","title":"t1","n":1}""", Timestamp.valueOf("2024-01-01 00:00:00")),
        ("k2", """{"guid":"g2","title":"t2","n":2}""", Timestamp.valueOf("2024-01-01 00:01:00")),
        ("kx", """broken payload""", Timestamp.valueOf("2024-01-01 00:02:00")))
      q.processAllAvailable()
      src.addData(
        ("k1", """{"guid":"g1","title":"t1","n":1}""", Timestamp.valueOf("2024-01-01 00:00:00")), // replay
        ("k3", """{"guid":"g3","title":"t3","n":3}""", Timestamp.valueOf("2024-01-01 00:03:00")))
      q.processAllAvailable()
      val snap = graft.streaming.Streams.readLatestBucketed(spark, dir).get
        .select("event_id", "n").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(snap === Map("g1" -> 1L, "g2" -> 2L, "g3" -> 3L),
        "malformed quarantined, replay deduped, all batches merged")
    } finally q.stop()
  }

  test("writePartitionedParquet produces partition-pruned layout") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sink").toString
    val df = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "a", 30.0)).toDF("id", "part", "v")
    graft.sources.Sinks.writePartitionedParquet(df, dir, Seq("part"), Seq("id"))
    val back = spark.read.parquet(dir)
    assert(back.count() === 3)
    assert(new java.io.File(dir).list().exists(_.startsWith("part=a")))
    // partition filter prunes to one directory
    val plan = back.filter(col("part") === "a").queryExecution.executedPlan.toString
    assert(back.filter(col("part") === "a").count() === 2)
    assert(!plan.toLowerCase.contains("part=b"))
  }

  test("q103 regression: the strict µs reader REJECTS a millis-format artifact " +
      "(the poisoned shape round 5's NTZ write produced)") {
    // Reproduces the exact corruption: an NTZ-typed ts column ignores
    // `timestampFormat` on write and lands in default millis format with
    // no zone offset; the q103 reader (TimestampType schema, 6-digit-µs
    // pattern, FAILFAST) must fail loudly on it, never silently parse.
    val dir = java.nio.file.Files.createTempDirectory("graft_millis").toString + "/out"
    Tables.events(spark, sfDir).limit(50)
      .withColumn("ts", col("ts").cast("timestamp_ntz"))
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")
      .json(dir)
    // confirm the written artifact really is millis-format (no offset)
    val rawLine = spark.read.text(dir).head().getString(0)
    assert(rawLine.matches(""".*"ts":"\d{4}-\d\d-\d\dT\d\d:\d\d:\d\d\.\d{3}".*"""),
      s"expected the NTZ write to ignore timestampFormat; got: $rawLine")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("event_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.TimestampType)))
    val strict = spark.read.schema(schema).option("mode", "FAILFAST")
      .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX").json(dir)
    val e = intercept[Exception] { strict.collect() }
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil else t.toString +: chain(t.getCause)
    assert(chain(e).exists(m => m.contains("Malformed") || m.contains("FAILFAST")
        || m.contains("BadRecord") || m.contains("DateTimeParseException")),
      s"unexpected failure chain: ${chain(e).mkString(" <- ")}")
  }

  test("ArtifactStore.ensure builds once, returns the same path, and leaves no staging") {
    var builds = 0
    val name = s"spec_artifact_${System.nanoTime()}"
    def ensure() = ArtifactStore.ensure(spark, name) { dir =>
      builds += 1
      spark.range(3).write.parquet(dir)
    }
    val p1 = ensure(); val p2 = ensure()
    assert(p1 === p2)
    assert(builds === 1, "second ensure must serve the existing artifact")
    assert(spark.read.parquet(p1).count() === 3)
    val root = ArtifactStore.warehouseRoot(spark)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staged = fs.listStatus(root).map(_.getPath.getName)
      .filter(_.startsWith(s"_staging-$name"))
    assert(staged.isEmpty, s"staging dirs left behind: ${staged.mkString(",")}")
  }

  test("ArtifactStore: a build that throws leaves no staging dir and can retry") {
    val name = s"spec_crash_${System.nanoTime()}"
    val root = ArtifactStore.warehouseRoot(spark)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    intercept[RuntimeException] {
      ArtifactStore.ensure(spark, name) { dir =>
        spark.range(1).write.parquet(dir) // partial output, then the crash
        throw new RuntimeException("boom")
      }
    }
    assert(fs.listStatus(root).map(_.getPath.getName)
      .count(_.startsWith(s"_staging-$name")) === 0,
      "failed build must clean its staging dir")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(root, name)),
      "failed build must not publish")
    // the retry builds cleanly
    val p = ArtifactStore.ensure(spark, name)(d => spark.range(5).write.parquet(d))
    assert(spark.read.parquet(p).count() === 5)
  }

  test("ArtifactStore.ensureCurrent: old fingerprints sweep past the retention bound, " +
      "recent siblings survive (multi-dir sessions keep their artifacts)") {
    val base = s"spec_ret_${System.nanoTime()}"
    val root = ArtifactStore.warehouseRoot(spark)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def live() = fs.listStatus(root).map(_.getPath.getName)
      .filter(n => n.startsWith(base + "_") && !n.startsWith("_staging-")).toSeq
    ArtifactStore.ensureCurrent(spark, base, "aaaa1111")(
      d => spark.range(1).write.parquet(d))
    ArtifactStore.ensureCurrent(spark, base, "bbbb2222")(
      d => spark.range(2).write.parquet(d))
    // default retention: BOTH fingerprints live — a session serving two
    // source dirs (sf0.01 verify + sf0.1 bench) must not rebuild its
    // "build-once" artifacts on every dir switch, nor delete one out
    // from under a concurrent reader
    assert(live().toSet === Set(s"${base}_aaaa1111", s"${base}_bbbb2222"),
      "recent sibling fingerprints must survive the default retention")
    // retention bound 0 + no grace: the sweep really does bound growth
    ArtifactStore.ensureCurrent(spark, base, "cccc3333",
      retainSiblings = 0, graceMs = 0)(d => spark.range(3).write.parquet(d))
    assert(live() === Seq(s"${base}_cccc3333"),
      "past the retention bound, superseded fingerprints are swept")
    // a DIFFERENT base sharing the prefix must never be swept
    val sibling = s"${base}_extra"
    ArtifactStore.ensureCurrent(spark, sibling, "dddd4444")(
      d => spark.range(4).write.parquet(d))
    ArtifactStore.ensureCurrent(spark, base, "eeee5555",
      retainSiblings = 0, graceMs = 0)(d => spark.range(5).write.parquet(d))
    assert(live().toSet === Set(s"${base}_eeee5555", s"${base}_extra_dddd4444"))
  }

  private def tablePath(): String =
    java.nio.file.Files.createTempDirectory("graft_table").resolve("t").toString

  test("ArtifactStore.writeTable: a zero-row partitioned table reads back as a typed " +
      "empty frame, partition columns last") {
    val path = tablePath()
    ArtifactStore.writeTable(spark.range(0).select(col("id").as("cell"),
      col("id").cast("string").as("name"), lit(1.5).as("score")), path, "cell")
    val back = ArtifactStore.readTable(spark, path)
    assert(back.schema.map(f => f.name -> f.dataType) ===
      Seq("name" -> StringType, "score" -> DoubleType, "cell" -> LongType))
    assert(back.count() === 0)
  }

  test("ArtifactStore.readTable starts no Spark job") {
    val path = tablePath()
    ArtifactStore.writeTable(spark.range(6).select(col("id"), (col("id") % 3).as("part")),
      path, "part")
    var back: org.apache.spark.sql.DataFrame = null
    assert(jobsDuring { back = ArtifactStore.readTable(spark, path) } === 0)
    assert(back.columns.toSeq === Seq("id", "part"))
  }

  test("ArtifactStore: _schema is never read as data") {
    val path = tablePath()
    ArtifactStore.writeTable(spark.range(4).toDF("id"), path)
    assert(new java.io.File(path, "_schema").isFile)
    val back = ArtifactStore.readTable(spark, path)
    assert(!back.inputFiles.exists(_.endsWith("_schema")))
    assert(back.collect().map(_.getLong(0)).sorted.toSeq === Seq(0L, 1L, 2L, 3L))
  }

  test("ArtifactStore.vacuumStaging sweeps only stale orphans") {
    val root = ArtifactStore.warehouseRoot(spark)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(root)
    val orphan = new org.apache.hadoop.fs.Path(root, s"_staging-dead-${System.nanoTime()}")
    val young = new org.apache.hadoop.fs.Path(root, s"_staging-live-${System.nanoTime()}")
    fs.mkdirs(orphan)
    fs.mkdirs(young)
    fs.setTimes(orphan, System.currentTimeMillis() - 7200L * 1000, -1)
    // in-flight long build: the TOP-LEVEL mtime is stale (a dir's mtime
    // only changes when a direct child appears) but task files are still
    // landing deep inside — the recursive scan must spare it
    val inflight = new org.apache.hadoop.fs.Path(root, s"_staging-deep-${System.nanoTime()}")
    val deepFile = new org.apache.hadoop.fs.Path(inflight, "_temporary/0/part-0")
    fs.mkdirs(deepFile.getParent)
    fs.create(deepFile).close()
    fs.setTimes(inflight, System.currentTimeMillis() - 7200L * 1000, -1)
    fs.setTimes(new org.apache.hadoop.fs.Path(inflight, "_temporary"),
      System.currentTimeMillis() - 7200L * 1000, -1)
    val swept = ArtifactStore.vacuumStaging(spark) // default 1 h grace
    assert(swept.contains(orphan.getName))
    assert(!fs.exists(orphan), "stale orphan must be swept")
    assert(fs.exists(young), "an in-flight build's staging dir must survive")
    assert(fs.exists(inflight),
      "a long build with stale top-level mtime but fresh deep files must survive")
    fs.delete(young, true)
    fs.delete(inflight, true)
  }

  test("kafka source wiring matches the reference ingest job's options") {
    // metadata_eu_to_raw.py:53-58 — subscribe + startingOffsets +
    // failOnDataLoss on a bootstrap-server list. No broker or kafka jar
    // exists in this sandbox, so the assertable seam is the option map
    // readKafkaStream feeds to format("kafka")
    val opts = graft.sources.Ingest.kafkaSourceOptions(
      "kafka:9092", "europeana_metadata",
      startingOffsets = "latest", failOnDataLoss = false)
    assert(opts === Map(
      "kafka.bootstrap.servers" -> "kafka:9092",
      "subscribe" -> "europeana_metadata",
      "startingOffsets" -> "latest",
      "failOnDataLoss" -> "false"))
    // the production additions: bounded batches, default earliest+strict
    val bounded = graft.sources.Ingest.kafkaSourceOptions(
      "k1:9092,k2:9092", "t", maxOffsetsPerTrigger = Some(50000L))
    assert(bounded("maxOffsetsPerTrigger") === "50000")
    assert(bounded("startingOffsets") === "earliest")
    assert(bounded("failOnDataLoss") === "true")
  }

  test("q128: landing sample mod ladder is bounded and its SQL twin agrees") {
    import graft.sources.Ingest._
    assert(binSampleMod(0L) === 1L)
    assert(binSampleMod(BinTargetFiles) === 1L)          // fixture scale: no sampling
    assert(binSampleMod(BinTargetFiles + 1) === 2L)
    assert(binSampleMod(500000L) === 128L)               // sf10-class corpus
    // sampled file count is bounded for any n
    Seq(1L, 5000L, 500000L, 50000000L, 1L << 40).foreach { n =>
      assert(n / binSampleMod(n) <= BinTargetFiles)
      val got = spark.sql(
        s"SELECT CAST(${binSampleModSql(n.toString)} AS BIGINT) AS v")
        .first().getLong(0)
      assert(got === binSampleMod(n), s"SQL mod ladder diverges at n=$n")
    }
  }

  test("q128: binaryFile ingest round-trips every non-null payload by id and md5") {
    val docs = Tables.documents(spark, sfDir)
    val out = graft.sources.Ingest.binaryIngest(spark, sfDir).collect()
    val srcRows = docs.filter("text IS NOT NULL")
      .selectExpr("doc_id", "octet_length(text) AS n", "md5(text) AS h")
      .collect()
      .map(r => r.getLong(0) -> (r.getInt(1).toLong, r.getString(2))).toMap
    assert(out.length === srcRows.size)
    out.foreach { r =>
      val (n, h) = srcRows(r.getAs[Long]("doc_id"))
      assert(r.getAs[Long]("n_bytes") === n)
      assert(r.getAs[String]("content_hash") === h)
    }
    // ids are unique — the path-derived key is a real key
    assert(out.map(_.getAs[Long]("doc_id")).distinct.length === out.length)
  }

  test("sql extension functions are callable from plain SQL") {
    val dot = spark.sql(
      "SELECT dot_product_double(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d")
      .collect()(0).getDouble(0)
    assert(dot === 11.0)
    val sh = spark.sql("SELECT word_shingles('a b c d', 3) AS s")
      .collect()(0).getSeq[String](0)
    assert(sh === Seq("a b c", "b c d"))
    val sig = spark.sql("SELECT minhash_signature(array(42L, 7L), 8, 42, 2147483647) AS m")
      .collect()(0).getSeq[Long](0)
    assert(sig.length === 8)
    assert(sig.forall(v => v >= 0 && v < 2147483647L))
  }

  test("q144: embedded delimiters in the free-text field survive the line round-trip; " +
      "newline payloads are excluded, not mangled") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_textsrc").toString
    Seq(
      (1L, Timestamp.valueOf("2024-01-02 03:04:05.123456"), 2L, "weird|type|x", 1.5, "{}"),
      (2L, Timestamp.valueOf("2024-01-02 03:04:06"), 2L, "line\nbreak", 2.5, "{}"),
      (3L, Timestamp.valueOf("2024-01-02 03:04:07"), 3L, "plain", 0.1 + 0.2, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val out = Ingest.textRoundtrip(spark, dir).collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 3L), "newline row must be excluded")
    assert(out(0).getString(4) == "weird|type|x", "split LIMIT must keep embedded pipes")
    assert(out(0).getTimestamp(1) == Timestamp.valueOf("2024-01-02 03:04:05.123456"),
      "µs precision must survive the integer-micros encoding")
    assert(out(1).getDouble(3) == 0.1 + 0.2, "double must round-trip bit-exact")
  }
}
