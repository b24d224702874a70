package graftbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}
import graft.operators._
import graft.sources.{Ingest, Sinks}
import graft.streaming.Streams

/** A benchmark workload. `generate` makes the run's inputs from the seed;
  * `pass` is the unit of timed work, repeated closed-loop by one client;
  * `outputs` names what the checker compares with its references. */
trait Workload {
  /** Makes every input under `in` from `seed`. */
  def generate(run: Run, in: Path): Unit
  /** Called once after the inputs exist, before any pass. */
  def start(run: Run, in: Path): Unit = ()
  def pass(run: Run, in: Path, out: Path): PassResult
  /** The untimed pass at the end of set-up; a full pass unless the
    * workload can warm the same code with less work. */
  def warmUp(run: Run, in: Path, out: Path): Unit = pass(run, in, out)
  /** Passes the timed section runs at least, however long they take. */
  def minPasses: Int = 1
  def stop(run: Run): Unit = ()
  def outputs(run: Run, in: Path, lastOut: Path): Seq[Output]
  /** Layer metrics measured by the workload itself rather than from
    * spans, for one traced pass: `groups` is the pass's Spark work per
    * job group and `out` its output directory. */
  def extras(run: Run, p: PassResult, groups: Map[String, Work], out: Path): Map[String, Double] = p.extra
  /** Problems found after the run (isolation, leftovers). */
  def audit(run: Run): Seq[String] = Nil
}

object Workloads {
  def apply(name: String): Workload = name match {
    case "medallion" => new Medallion
    case "curation" => new Curation
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime
    val r = body
    (r, (System.nanoTime - t0) / 1e6)
  }

  def copyTree(from: Path, to: Path): Unit = {
    val st = Files.walk(from)
    try st.forEach { p =>
      val dst = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dst)
      else Files.copy(p, dst, StandardCopyOption.REPLACE_EXISTING)
    } finally st.close()
  }
}

/** The reference's pipeline. Its batch chain: Kafka-shaped arrivals →
  * bronze → silver → MERGE of each update batch into the orders snapshot
  * → curated gold → serving export; every stage writes its full output
  * and the next stage reads what was written. Then its streaming path
  * ([[StreamUpsert]]) takes a fixed number of micro-batches. The operations
  * behind `trigger_p50_ms` are the micro-batches. */
final class Medallion extends Workload {
  import Workloads._
  private val stream = new StreamUpsert
  private var batches = 0
  private var inputRows = 0L

  def generate(run: Run, in: Path): Unit = {
    val (ev, files, cust, ord, bat, rows) = (20000, 4, 2000, 20000, 2, 1000)
    batches = bat
    val lines = Gen.arrivals(run.seed, in.resolve("raw"), ev, files, 1500, 0.02, 0.005)
    Gen.dims(run.spark, run.seed, in.toString, cust)
    Gen.ordersAndBatches(run.spark, run.seed, in.toString, ord, cust, bat, rows)
    Gen.labels(run.spark, run.seed, in.toString, ev / 10)
    inputRows = lines + ord + bat.toLong * rows
    stream.generate(run, in)
  }

  override def start(run: Run, in: Path): Unit = stream.start(run, in)
  override def stop(run: Run): Unit = stream.stop(run)
  override def audit(run: Run): Seq[String] = stream.audit(run)

  def pass(run: Run, in: Path, out: Path): PassResult = {
    val calls = batchChain(run, in, out)
    val s = stream.triggers(run, stream.TimedTriggers)
    PassResult(inputRows + s.rows, s.opMs, calls + s.calls, s.extra)
  }

  /** The batch chain in full, then fewer micro-batches than a timed pass:
    * the first triggers compile the stream's code, later ones only repeat
    * it. */
  override def warmUp(run: Run, in: Path, out: Path): Unit = {
    batchChain(run, in, out)
    stream.triggers(run, stream.WarmTriggers)
  }

  /** Runs the batch chain, writing every stage under `out`; returns the
    * number of operations. */
  private def batchChain(run: Run, in: Path, out: Path): Int = {
    val spark = run.spark
    val t = run.tracer
    val ops = mutable.ArrayBuffer[Double]()
    // the last merged version is published next to the dimensions the
    // curated join reads with it; copying them is pass preparation
    val goldIn = out.resolve(s"merge/v$batches")
    Files.createDirectories(goldIn)
    Seq("customer", "nation", "region", "embeddings").foreach(n =>
      copyTree(in.resolve(s"$n.parquet"), goldIn.resolve(s"$n.parquet")))

    val bronze = out.resolve("bronze/events.parquet").toString
    ops += timed(t.span("ingest") {
      val raw = Ingest.readJson(spark, in.resolve("raw").toString, Gen.EnvelopeSchema)
      val parsed = Ingest.parseJsonEnvelope(raw, Gen.EventSchema)
      run.consume("ingest", parsed, bronze) {
        t.span("sinks") { Sinks.writePartitionedParquet(parsed, bronze, Seq("is_malformed")) }
      }
    })._2

    val silverDir = out.resolve("silver").toString
    val silver = s"$silverDir/events.parquet"
    ops += timed(t.span("cleanse") {
      val kept = Cleanse.requireFields(
        spark.read.parquet(bronze).filter(!col("is_malformed")), Seq("event_id", "ts"))
      val clean = Cleanse.normalizeEmpty(
        Cleanse.dedupKeepFirst(kept, Seq("event_id"), Seq(col("ingestion_time"), col("key"))),
        Seq("event_type")).select(Gen.EventSchema.fieldNames.toSeq.map(col): _*)
      run.consume("cleanse", clean, silver) {
        t.span("sinks") { Sinks.writePartitionedParquet(clean, silver, Seq("event_type"), Seq("event_id")) }
      }
      val ugc = Cleanse.cleanseUgc(spark, silverDir)
      val ugcPath = out.resolve("ugc").toString
      run.consume("cleanse", ugc, ugcPath) {
        t.span("sinks") { Sinks.writePartitionedParquet(ugc, ugcPath, Seq("event_type")) }
      }
    })._2

    var current = in.resolve("orders.parquet").toString
    (1 to batches).foreach { b =>
      val batch = in.resolve(s"batch-$b.parquet").toString
      val version = out.resolve(s"merge/v$b/orders.parquet").toString
      ops += timed(t.span("merge") {
        val merged = Merge.upsertSnapshot(spark.read.parquet(current), spark.read.parquet(batch),
          Seq("o_orderkey"))
        run.consume("merge", merged, version) {
          t.span("sinks") {
            Sinks.writePartitionedParquet(merged, version, Seq("o_orderstatus"), Seq("o_orderkey"))
          }
        }
      })._2
      current = version
    }

    ops += timed(t.span("curated") {
      val joined = CuratedJoin.curatedJoin(spark, goldIn.toString)
      val joinedPath = out.resolve("gold/curated").toString
      run.consume("curated", joined, joinedPath) {
        t.span("sinks") { Sinks.writePartitionedParquet(joined, joinedPath, Seq("c_nationkey"), Seq("c_custkey")) }
      }
      val remap = CuratedJoin.canonicalRemap(spark, goldIn.toString)
      val remapPath = out.resolve("gold/canonical").toString
      run.consume("curated", remap, remapPath) {
        t.span("sinks") { Sinks.writePartitionedParquet(remap, remapPath, Seq("cluster_size"), Seq("vec_id")) }
      }
    })._2

    val exported = out.resolve("export").toString
    ops += timed(t.span("serving") {
      val rows = Serving.servingExport(spark, silverDir)
      run.consume("serving", rows, exported) {
        t.span("sinks") { Sinks.writePartitionedParquet(rows, exported, Seq("event_date"), Seq("event_id")) }
      }
    })._2
    ops.size
  }

  override def extras(run: Run, p: PassResult, groups: Map[String, Work], out: Path): Map[String, Double] = {
    val in = (1 to batches).map(b => Run.dirBytes(run.inputs.resolve(s"batch-$b.parquet").toString)).sum
    val published = (1 to batches).map(b => Run.dirBytes(out.resolve(s"merge/v$b/orders.parquet").toString)).sum
    stream.extras(run, p, groups, out) + ("merge.write_amp" -> published.toDouble / math.max(1L, in))
  }

  def outputs(run: Run, in: Path, o: Path): Seq[Output] = Seq(
    Output("bronze", "bronze", o.resolve("bronze/events.parquet").toString),
    Output("silver", "silver", o.resolve("silver/events.parquet").toString),
    Output("ugc", "oracle:q14_cleanse_ugc", o.resolve("ugc").toString),
    Output("merged", "merged", o.resolve(s"merge/v$batches/orders.parquet").toString),
    Output("curated", "oracle:q16_curated_join", o.resolve("gold/curated").toString),
    Output("canonical", "oracle:q17_canonical_remap", o.resolve("gold/canonical").toString),
    Output("export", "oracle:q18_serving_export", o.resolve("export").toString)) ++
    stream.outputs(run, in, o)
}

/** The reference's streaming path: JSON arrival files → envelope parse →
  * replay dedup under a watermark → bucketed foreachBatch MERGE with
  * vacuum. A producer lands the next micro-batch file only after the
  * previous one's version is readable and the no-data trigger that
  * follows it (the watermark moved) has run, so every pass runs the same
  * triggers; one pass is a fixed number of micro-batches. */
final class StreamUpsert extends Workload {
  val Buckets = 4
  /** Micro-batches of a timed pass: `trigger_p50_ms` is their median, so
    * enough of them that one slow trigger barely moves it. */
  val TimedTriggers = 6
  /** Micro-batches of the warm-up pass. */
  val WarmTriggers = 2
  private var staged: Path = _
  private var src: Path = _
  private var sink: String = _
  private var nextFile = 1
  private var totalFiles = 0
  private var query: StreamingQuery = _
  private var spark: org.apache.spark.sql.SparkSession = _
  private val progress = new java.util.concurrent.LinkedBlockingQueue[StreamingQueryProgress]()
  private var lastBatch = -1L
  private val qListener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = progress.put(e.progress)
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def generate(run: Run, in: Path): Unit = {
    val (base, files, rows) = (20000, 60, 300)
    totalFiles = files
    Gen.streamFiles(run.seed, in.resolve("stream"), base, files, rows, 1500,
      Gen.Jan2024Us + 31 * Gen.DayUs, 0.05, 0.03, 0.01)
  }

  override def start(run: Run, in: Path): Unit = {
    spark = run.spark
    val dir = Files.createTempDirectory(run.work, "stream-")
    staged = in.resolve("stream")
    src = Files.createDirectories(dir.resolve("source"))
    sink = dir.resolve("sink").toString
    nextFile = 1
    lastBatch = -1L
    progress.clear()
    spark.streams.addListener(qListener)
    val parsed = Ingest.parseJsonEnvelope(
        Ingest.readJsonStream(spark, src.toString, Gen.EnvelopeSchema), Gen.EventSchema)
      .filter(!col("is_malformed"))
      .select(Gen.EventSchema.fieldNames.toSeq.map(col): _*)
    query = Streams.upsertSinkBucketed(Streams.dedupReplays(parsed), sink, Seq("event_id"), Buckets)
      .option("checkpointLocation", dir.resolve("checkpoint").toString)
      .start()
    // the base load is set-up
    release("batch-00000.json")
    awaitData()
    settle()
  }

  /** Waits for the trigger after the last data trigger: the no-data
    * trigger that advances the watermark (it publishes a version too). */
  private def settle(): Option[StreamingQueryProgress] = {
    val deadline = System.nanoTime + 5L * 1000000000L
    var settled: Option[StreamingQueryProgress] = None
    while (settled.isEmpty && System.nanoTime < deadline) {
      query.exception.foreach(e => throw e)
      settled = Option(progress.poll(10, java.util.concurrent.TimeUnit.MILLISECONDS))
        .filter(_.batchId > lastBatch)
    }
    settled
  }

  private def release(name: String): Long = {
    Files.move(staged.resolve(name), src.resolve(name), StandardCopyOption.ATOMIC_MOVE)
    Files.size(src.resolve(name))
  }

  /** Waits for the next trigger that read data, returning its progress and
    * every no-data trigger seen before it. */
  private def awaitData(): (StreamingQueryProgress, Seq[StreamingQueryProgress]) = {
    val idle = mutable.ArrayBuffer[StreamingQueryProgress]()
    val deadline = System.nanoTime + 120L * 1000000000L
    while (System.nanoTime < deadline) {
      query.exception.foreach(e => throw e)
      val p = progress.poll(2, java.util.concurrent.TimeUnit.MILLISECONDS)
      if (p != null) {
        if (p.numInputRows > 0 && p.batchId > lastBatch) {
          lastBatch = p.batchId
          // the version is readable once the commit log names it
          require(Streams.latestCommittedVersion(spark, sink).exists(_ >= p.batchId),
            s"batch ${p.batchId} reported but not committed")
          require(Streams.readLatestBucketed(spark, sink).isDefined, "snapshot not readable")
          return (p, idle.toSeq)
        }
        if (p.numInputRows == 0) idle += p
      }
    }
    throw new IllegalStateException("micro-batch did not commit within 120 s")
  }

  def pass(run: Run, in: Path, out: Path): PassResult = triggers(run, TimedTriggers)

  /** Releases `n` micro-batch files one after another, each after the
    * previous one settled, and measures each one's latency. */
  def triggers(run: Run, n: Int): PassResult = {
    if (nextFile + n > totalFiles + 1)
      throw new IllegalStateException(s"only $totalFiles micro-batch files were generated")
    val t = run.tracer
    val root = t.current
    val lat = mutable.ArrayBuffer[Double]()
    val datas = mutable.ArrayBuffer[StreamingQueryProgress]()
    val idles = mutable.ArrayBuffer[StreamingQueryProgress]()
    var rows = 0L
    var bytes = 0L
    var touched = 0.0
    (0 until n).foreach { _ =>
      val name = f"batch-$nextFile%05d.json"
      nextFile += 1
      val t0 = System.nanoTime
      bytes += release(name)
      val (p, idle) = awaitData()
      val t1 = System.nanoTime
      lat += (t1 - t0) / 1e6
      rows += p.numInputRows
      datas += p
      idles ++= idle ++ settle()
      if (t.traced) {
        val s = t.record("streams", root, t0, t1)
        val d = p.durationMs.asScala.view.mapValues(_.longValue).toMap
        val ingestNs = (d.getOrElse("latestOffset", 0L) + d.getOrElse("getBatch", 0L)) * 1000000L
        t.record("ingest", s.id, t1 - ingestNs, t1)
        touched += manifestShare(p.batchId)
      }
    }
    def med(k: String) = Run.median(datas.map(_.durationMs.asScala.get(k).map(_.doubleValue).getOrElse(0.0)).toSeq)
    val dropped = datas.map(p => p.stateOperators.map(o =>
      o.numRowsDroppedByWatermark + o.customMetrics.asScala.get("numDroppedDuplicateRows").map(_.longValue).getOrElse(0L)).sum).sum
    val state = datas.last.stateOperators.map(_.numRowsTotal).sum
    PassResult(rows, lat.toSeq, n, Map(
      "streams.add_batch_ms" -> med("addBatch"),
      "streams.wal_commit_ms" -> med("walCommit"),
      "streams.query_planning_ms" -> med("queryPlanning"),
      "streams.no_data_ms" -> Run.median(idles.map(_.durationMs.asScala.get("triggerExecution").map(_.doubleValue).getOrElse(0.0)).toSeq),
      "streams.state_rows" -> state.toDouble,
      "streams.buckets_touched_ratio" -> touched / n,
      "bytes_in" -> bytes.toDouble,
      "streams.dedup_drop_ratio" -> dropped.toDouble / math.max(1L, rows)))
  }

  override def extras(run: Run, p: PassResult, groups: Map[String, Work], out: Path): Map[String, Double] =
    p.extra - "bytes_in" + ("streams.write_amp" ->
      groups.get(Listener.StreamGroup).map(_.bytesWritten).getOrElse(0L) / math.max(1.0, p.extra("bytes_in")))

  /** Share of buckets the version `v` rewrote, from its manifest. */
  private def manifestShare(v: Long): Double = {
    val m = Paths.get(sink, s"v$v", "_manifest")
    if (!Files.exists(m)) 0.0
    else Files.readAllLines(m).asScala.count(_.endsWith(s":$v")).toDouble / Buckets
  }

  override def stop(run: Run): Unit = if (query != null) {
    query.stop()
    query = null
    run.spark.streams.removeListener(qListener)
  }

  def outputs(run: Run, in: Path, o: Path): Seq[Output] = {
    val snap = o.resolve("snapshot").toString
    Streams.readLatestBucketed(run.spark, sink).get.write.mode("overwrite").parquet(snap)
    Seq(Output("snapshot", "stream", snap, src.toString))
  }

  override def audit(run: Run): Seq[String] = {
    val st = Files.walk(Paths.get(sink))
    try st.iterator.asScala.filter(_.getFileName.toString.startsWith("_staging-"))
      .map(p => s"staging dir left in stream sink: $p").toSeq
    finally st.close()
  }
}

/** The LLM-data curation path over a document corpus and its embeddings:
  * exact and MinHash dedup, dedup clusters and survivors, heuristic text
  * scores, the trained quality classifier, semantic dedup and canonical
  * remap. Each call's full output is written; each pass gets a fresh
  * artifact warehouse, so every artifact a call needs is built in it. */
final class Curation extends Workload {
  private var docs = 0
  private var vecs = 0
  private val isolation = mutable.ArrayBuffer[String]()
  /** Two passes, so `wall_s` and the request latency are not one sample. */
  override def minPasses: Int = 2

  val Calls: Seq[(String, String, (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame)] = Seq(
    ("dedup", "q22_dedup_exact", Dedup.exact _),
    ("dedup", "q24_dedup_minhash_lsh", ApproxDedup.minhashLsh _),
    ("cluster", "q46_dedup_cc", Cluster.dedupClusters _),
    ("cluster", "q93_dedup_survivor", Cluster.dedupSurvivor _),
    ("text", "q31_quality_score", TextAnalysis.qualityScore _),
    ("text", "q30_lang_id", TextAnalysis.langId _),
    ("classifier", "q217_quality_classifier", (s, d) => QualityClassifier.trainScore(s, d)),
    ("semdedup", "q59_semdedup", SemDedup.semDedup _),
    ("curated", "q17_canonical_remap", CuratedJoin.canonicalRemap _))

  def generate(run: Run, in: Path): Unit = {
    val (d, v) = (2000, 1000)
    docs = d; vecs = v
    Gen.corpus(run.spark, run.seed, in.toString, d, v)
  }

  def pass(run: Run, in: Path, out: Path): PassResult = {
    val warehouse = out.resolve("warehouse")
    run.spark.conf.set("spark.graft.warehouse", warehouse.toUri.toString)
    val passStart = System.currentTimeMillis
    val ops = Calls.map { case (layer, q, f) =>
      Workloads.timed(run.tracer.span(layer) {
        val df = f(run.spark, in.toString)
        val path = out.resolve(q).toString
        run.consume(layer, df, path) { df.write.parquet(path) }
      })._2
    }
    // artifacts whose directory predates the pass were served, not built
    val listed = if (Files.exists(warehouse)) Files.list(warehouse).iterator.asScala.toSeq else Nil
    val artifacts = listed.filterNot(_.getFileName.toString.startsWith("_"))
    val served = artifacts.count(p => Files.getLastModifiedTime(p).toMillis < passStart)
    if (served > 0) isolation += s"$served artifacts were served from before their pass"
    if (artifacts.size == served) isolation += "no artifact was built in the pass warehouse"
    // the operation behind `trigger_p50_ms` is one curation request: the
    // whole chain of calls. Single calls are unlike each other, so a median
    // over them would jump from one call to another between runs.
    PassResult(docs.toLong + vecs, Seq(ops.sum), ops.size, Map(
      "artifact.builds" -> (artifacts.size - served).toDouble,
      "artifact.hit_ratio" -> served.toDouble / math.max(1, artifacts.size)))
  }

  override def extras(run: Run, p: PassResult, groups: Map[String, Work], out: Path): Map[String, Double] = {
    val root = Run.norm(out.resolve("warehouse").toString)
    val buildMs = run.plans.durations.collect { case (path, ms) if path.startsWith(root) => ms }.sum
    p.extra + ("artifact.build_s" -> buildMs / 1000.0)
  }

  def outputs(run: Run, in: Path, o: Path): Seq[Output] =
    Calls.map { case (_, q, _) => Output(q, s"oracle:$q", o.resolve(q).toString) }

  override def audit(run: Run): Seq[String] = isolation.distinct.toSeq
}
