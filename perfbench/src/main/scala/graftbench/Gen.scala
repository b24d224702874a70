package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.sql.Timestamp
import java.util.SplittableRandom
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generators. Everything a run feeds the program is made
  * here from the run seed (plus fixed constants), so the same seed gives
  * byte-identical inputs. Row content is built in plain Scala; parquet is
  * written by Spark from a fixed number of slices, JSON arrival files by
  * plain IO.
  *
  * [[digest]] fingerprints what was generated since [[resetDigest]]: the
  * bytes of every JSON file, and for every parquet table the rows of each
  * part in order. Parquet file bytes themselves are not compared: the
  * writer lists each column's encodings from a hash set, in an order that
  * differs between JVMs. */
object Gen {
  private var md = java.security.MessageDigest.getInstance("MD5")
  def resetDigest(): Unit = md = java.security.MessageDigest.getInstance("MD5")
  def digest: String = md.clone.asInstanceOf[java.security.MessageDigest].digest()
    .map(b => f"$b%02x").mkString
  val Words: Array[String] = ("batch part spark line column order small sort fast value " +
    "scan a hash slow group agg filter query big key window row table stream merge " +
    "data the vector customer join").split(" ")
  val EventTypes: Array[String] = Array("signup", "click", "error", "view", "purchase")
  val Langs: Array[String] = Array("en", "en", "zh", "de", "fr", "es")
  val Statuses: Array[String] = Array("O", "F", "P")
  val Priorities: Array[String] = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val Segments: Array[String] = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val Regions: Array[String] = Array("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")

  /** 2024-01-01T00:00:00Z in microseconds. */
  val Jan2024Us: Long = 1704067200L * 1000000L
  val DayUs: Long = 86400L * 1000000L

  def rng(seed: Long, salt: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + salt)

  def ts(us: Long): Timestamp = {
    val t = new Timestamp(Math.floorDiv(us, 1000L))
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  /** ISO text of a UTC instant with microseconds, no zone suffix (the
    * session zone is UTC). */
  def isoUs(us: Long): String = {
    val i = java.time.Instant.ofEpochSecond(Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L) * 1000L)
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSS")
      .withZone(java.time.ZoneOffset.UTC).format(i)
  }

  def jsonStr(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def writeParquet(spark: SparkSession, rows: Seq[Row], schema: StructType, path: String,
      slices: Int): Unit = {
    md.update(s"${java.nio.file.Paths.get(path).getFileName}/$slices/${schema.catalogString}".getBytes(UTF_8))
    rows.foreach(r => md.update(r.toString.getBytes(UTF_8)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, slices), schema)
      .write.mode("overwrite").parquet(path)
  }

  // ---- events and their Kafka-shaped envelopes ----

  final case class Event(id: Long, tsUs: Long, user: Long, etype: String, value: Double, k: Int) {
    def payload: String =
      s"""{"event_id":$id,"ts":"${isoUs(tsUs)}","user_id":$user,"event_type":"$etype",""" +
        s""""value":$value,"props":${jsonStr(s"""{"k": $k}""")}}"""
  }

  val EventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** The Kafka record shape the ingest layer parses: key, JSON payload,
    * broker timestamp. */
  val EnvelopeSchema: StructType = StructType(Seq(
    StructField("key", StringType), StructField("value", StringType),
    StructField("timestamp", TimestampType)))

  def event(r: SplittableRandom, id: Long, tsUs: Long, users: Int): Event =
    Event(id, tsUs, r.nextInt(users).toLong, EventTypes(r.nextInt(EventTypes.length)),
      r.nextInt(100000) / 100.0, r.nextInt(100))

  def envelope(key: String, payload: String, brokerUs: Long): String =
    s"""{"key":${jsonStr(key)},"value":${jsonStr(payload)},"timestamp":"${isoUs(brokerUs)}"}"""

  /** A payload cut off mid-record: never valid JSON. */
  def malformed(e: Event): String = e.payload.take(e.payload.length / 2)

  def writeLines(p: Path, lines: Iterator[String]): Unit = {
    Files.createDirectories(p.getParent)
    md.update(p.getFileName.toString.getBytes(UTF_8))
    val w = Files.newBufferedWriter(p, UTF_8)
    try lines.foreach { l =>
      md.update((l + "\n").getBytes(UTF_8))
      w.write(l); w.write('\n')
    } finally w.close()
  }

  /** Raw arrival files for the batch chain: `n` events over January 2024
    * spread over `files` files in broker-time order, with replays
    * (re-deliveries of an earlier record) and malformed payloads mixed
    * in. Returns the number of lines written. */
  def arrivals(seed: Long, dir: Path, n: Int, files: Int, users: Int,
      replayShare: Double, malformedShare: Double): Long = {
    val r = rng(seed, 1)
    val span = 30 * DayUs
    val evs = (0 until n).map(i => event(r, i.toLong, Jan2024Us + r.nextLong(span), users))
      .sortBy(e => (e.tsUs, e.id))
    val lines = Array.fill(files)(Vector.newBuilder[(Long, String)])
    var count = 0L
    evs.zipWithIndex.foreach { case (e, i) =>
      val f = (i.toLong * files / n).toInt
      val broker = e.tsUs + 1000000L + r.nextLong(60000000L)
      lines(f) += broker -> envelope(e.id.toString, e.payload, broker)
      count += 1
      if (r.nextDouble() < replayShare) {
        val g = math.min(files - 1, f + r.nextInt(3))
        val later = broker + 1000000L + r.nextLong(600000000L)
        lines(g) += later -> envelope(e.id.toString, e.payload, later)
        count += 1
      }
      if (r.nextDouble() < malformedShare) {
        lines(f) += broker -> envelope(s"m${e.id}", malformed(e), broker)
        count += 1
      }
    }
    lines.zipWithIndex.foreach { case (b, f) =>
      writeLines(dir.resolve(f"arrival-$f%04d.json"), b.result().sortBy(_._1).iterator.map(_._2))
    }
    count
  }

  // ---- star-schema dimensions, orders snapshot and its update batches ----

  val OrderSchema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", TimestampType), StructField("o_orderpriority", StringType)))

  def order(r: SplittableRandom, key: Long, customers: Int): Row = Row(key,
    r.nextInt(customers).toLong, Statuses(r.nextInt(3)), r.nextInt(50000000) / 100.0,
    ts(Jan2024Us - (9 * 365L - r.nextInt(6 * 365)) * DayUs), Priorities(r.nextInt(5)))

  def dims(spark: SparkSession, seed: Long, dir: String, customers: Int): Unit = {
    val r = rng(seed, 2)
    writeParquet(spark, Regions.indices.map(i => Row(i, Regions(i))),
      StructType(Seq(StructField("r_regionkey", IntegerType), StructField("r_name", StringType))),
      s"$dir/region.parquet", 1)
    writeParquet(spark, (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)),
      StructType(Seq(StructField("n_nationkey", IntegerType), StructField("n_name", StringType),
        StructField("n_regionkey", IntegerType))), s"$dir/nation.parquet", 1)
    writeParquet(spark, (0 until customers).map(i => Row(i.toLong, f"Customer#$i%09d",
      r.nextInt(25), r.nextInt(1100000) / 100.0 - 1000.0, Segments(r.nextInt(5)))),
      StructType(Seq(StructField("c_custkey", LongType), StructField("c_name", StringType),
        StructField("c_nationkey", IntegerType), StructField("c_acctbal", DoubleType),
        StructField("c_mktsegment", StringType))), s"$dir/customer.parquet", 2)
  }

  /** The orders snapshot (`orders` rows, keys 0 until orders) and `batches`
    * update batches of `batchRows` rows each: mostly repriced existing
    * orders, the rest new keys; keys are unique within a batch. */
  def ordersAndBatches(spark: SparkSession, seed: Long, dir: String, orders: Int,
      customers: Int, batches: Int, batchRows: Int): Unit = {
    val r = rng(seed, 3)
    writeParquet(spark, (0 until orders).map(i => order(r, i.toLong, customers)), OrderSchema,
      s"$dir/orders.parquet", 4)
    (1 to batches).foreach { b =>
      val fresh = batchRows / 5
      val updated = scala.collection.mutable.LinkedHashSet[Long]()
      while (updated.size < batchRows - fresh) updated += r.nextInt(orders).toLong
      val newKeys = (0 until fresh).map(j => orders.toLong + (b - 1).toLong * fresh + j)
      val rows = (updated.toSeq ++ newKeys).map(k => order(r, k, customers))
      writeParquet(spark, rows, OrderSchema, s"$dir/batch-$b.parquet", 1)
    }
  }

  /** (vec_id, label) rows: the cluster assignment canonical remap reads. */
  def labels(spark: SparkSession, seed: Long, dir: String, n: Int): Unit = {
    val r = rng(seed, 4)
    writeParquet(spark, (0 until n).map(i => Row(i.toLong, r.nextInt(n / 8 + 1))),
      StructType(Seq(StructField("vec_id", LongType), StructField("label", IntegerType))),
      s"$dir/embeddings.parquet", 2)
  }

  // ---- stream: base load and micro-batch files ----

  /** The stream's first file (`base` events over the 30 days before
    * `t0Us`) and `batches` micro-batch files of `rows` records each. A
    * batch carries new on-time events 10 minutes apart from the previous
    * batch, re-deliveries of records from the previous batch, late events
    * three days older than anything on time (behind the watermark), and
    * malformed payloads. */
  def streamFiles(seed: Long, dir: Path, base: Int, batches: Int, rows: Int, users: Int,
      t0Us: Long, replayShare: Double, lateShare: Double, malformedShare: Double): Unit = {
    val r = rng(seed, 5)
    val baseEvents = (0 until base).map(i => event(r, i.toLong, t0Us - 30 * DayUs + r.nextLong(30 * DayUs), users))
      .sortBy(_.tsUs)
    writeLines(dir.resolve("batch-00000.json"),
      baseEvents.iterator.map(e => envelope(e.id.toString, e.payload, e.tsUs + 1000000L)))
    var nextId = base.toLong
    var prev: IndexedSeq[Event] = IndexedSeq.empty
    val slotUs = 10L * 60 * 1000000L
    (1 to batches).foreach { b =>
      val start = t0Us + b * slotUs
      val lines = Vector.newBuilder[String]
      val onTime = Vector.newBuilder[Event]
      (0 until rows).foreach { _ =>
        val x = r.nextDouble()
        val broker = start + slotUs + r.nextLong(1000000L)
        if (x < replayShare && prev.nonEmpty) {
          val e = prev(r.nextInt(prev.length))
          lines += envelope(e.id.toString, e.payload, broker)
        } else if (x < replayShare + lateShare && b > 1) {
          val e = event(r, nextId, t0Us - 3 * DayUs - r.nextLong(DayUs), users)
          nextId += 1
          lines += envelope(e.id.toString, e.payload, broker)
        } else if (x < replayShare + lateShare + malformedShare) {
          val e = event(r, -1L, start, users)
          lines += envelope("bad", malformed(e), broker)
        } else {
          val e = event(r, nextId, start + r.nextLong(slotUs), users)
          nextId += 1
          onTime += e
          lines += envelope(e.id.toString, e.payload, broker)
        }
      }
      prev = onTime.result()
      writeLines(dir.resolve(f"batch-$b%05d.json"), lines.result().iterator)
    }
  }

  // ---- curation corpus ----

  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  val EmbSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  /** The curation corpus. Its content comes from a fixed corpus seed, so
    * every run asks the same questions; the run seed permutes the rows and
    * so which file each row lands in, which must not change any answer. Documents
    * carry planted exact and near duplicates; embeddings are noisy copies
    * of 10 centres with planted near-identical vectors. */
  def corpus(spark: SparkSession, seed: Long, dir: String, docs: Int, vecs: Int): Unit = {
    val c = rng(0x5EED, 6)
    val texts = scala.collection.mutable.ArrayBuffer[Array[String]]()
    (0 until docs).foreach { i =>
      val x = c.nextDouble()
      val words =
        if (i > 0 && x < 0.04) texts(c.nextInt(i)).clone()
        else if (i > 0 && x < 0.10) {
          val w = texts(c.nextInt(i)).clone()
          w(c.nextInt(w.length)) = Words(c.nextInt(Words.length))
          w
        } else Array.fill(12 + c.nextInt(70))(Words(c.nextInt(Words.length)))
      texts += words
    }
    val docRows = texts.indices.map { i =>
      val t = texts(i).mkString(" ")
      Row(i.toLong, t, Langs(c.nextInt(Langs.length)), s"src${i % 20}", t.length.toLong)
    }
    val centres = Array.fill(10)(Array.fill(64)(c.nextGaussian()))
    val vecRows = scala.collection.mutable.ArrayBuffer[Row]()
    (0 until vecs).foreach { i =>
      if (i > 0 && c.nextDouble() < 0.05) {
        val src = vecRows(c.nextInt(i))
        val v = src.getSeq[Float](1).map(f => f + (c.nextGaussian() * 0.002).toFloat)
        vecRows += Row(i.toLong, v, src.getInt(2))
      } else {
        val l = c.nextInt(10)
        vecRows += Row(i.toLong, centres(l).map(m => (m + c.nextGaussian() * 0.8).toFloat).toSeq, l)
      }
    }
    val r = rng(seed, 7)
    def permute[T](xs: IndexedSeq[T]): IndexedSeq[T] = {
      val a = xs.toArray[Any]
      (a.length - 1 to 1 by -1).foreach { i =>
        val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
      }
      a.toIndexedSeq.asInstanceOf[IndexedSeq[T]]
    }
    writeParquet(spark, permute(docRows), DocSchema, s"$dir/documents.parquet", 2)
    writeParquet(spark, permute(vecRows.toIndexedSeq), EmbSchema, s"$dir/embeddings.parquet", 2)
  }
}
