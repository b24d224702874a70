package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Row types of [[ScaleUp]]'s typed maps. Top-level and public: the
  * encoders' generated Java calls their accessors, and janino refuses
  * to call into a class declared private in an object, which sends
  * those plans to interpreted projections. */
case class ScaledDoc(doc_id: Long, text: String, lang: String, source: String,
    n_chars: Long)
case class ScaledVec(vec_id: Long, embedding: Array[Float], label: Int)

/** Deterministic scale-up generator: replicates an existing test-data dir
  * R× into a larger scale factor (sf0.1 × 10 → sf1) so the scale claims
  * in SURVEY §4/§6 can be MEASURED instead of argued from plan shapes.
  *
  * `sbt "runMain graft.tools.ScaleUp /root/testdata/sf0.1 /tmp/testdata/sf1 10"`
  *
  * Replication is NOT naive row duplication — naive copies would
  * manufacture quadratic artifacts that say nothing about the engine:
  * every document would gain R−1 exact duplicates (dedup pair counts grow
  * R(R−1)/2×, not R×) and every embedding R−1 cosine-1.0 neighbors. Per
  * table:
  *
  *  - Keys shift by `replica × stride` (stride = max key + 1), so each
  *    replica occupies a disjoint key range and referential integrity
  *    (orders→customer, lineitem→orders/part/supplier, events→user) holds
  *    within every replica. Key-derived names (Customer#…, Supplier#…)
  *    are re-derived from the new key.
  *  - `region`/`nation` copy unchanged: fixed-cardinality dimensions do
  *    not grow with corpus size (same as TPC-H).
  *  - `documents` replica r>0 word-shuffles each text with an RNG seeded
  *    by (r, md5(text)): duplicate texts shuffle IDENTICALLY, so each
  *    replica keeps sf0.1's intra-replica duplicate-cluster structure
  *    (clusters scale R×, the realistic growth), while cross-replica
  *    shingle sets diverge (word order is most of a k-shingle) instead of
  *    forming R-sized near-dup cliques.
  *  - `embeddings` replica r>0 applies one random ROTATION per replica
  *    (seeded orthonormal 64×64): all intra-replica dot products — and
  *    therefore cluster geometry, near-dup pairs, kNN graphs — are
  *    preserved bit-for-bit up to float rounding, while a vector and its
  *    rotated copy land at ~0 cosine (random rotations decorrelate), so
  *    no cross-replica neighbor artifacts.
  *  - `events` shifts event_id/user_id; timestamps keep the original
  *    one-month window — 10× the data means 10× the users, not a longer
  *    history, so per-user sessionization/window behavior stays
  *    realistic while the key space grows.
  *
  * Everything is seeded from the replica index — same inputs, same
  * output bytes. Timestamps are written as standard µs TIMESTAMP (the
  * source's TIMESTAMP(NANOS) is µs-aligned, see graft.Tables.events), so
  * both Spark and the DuckDB oracle read the generated dir directly. */
object ScaleUp {

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val dst = args.lift(1).getOrElse("/tmp/testdata/sf1")
    val replicas = args.lift(2).map(_.toInt).getOrElse(10)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    run(spark, src, dst, replicas)
    spark.stop()
  }

  def run(spark: SparkSession, src: String, dst: String, replicas: Int): Unit = {
    def load(name: String) = spark.read.parquet(s"$src/$name.parquet")
    def save(name: String, df: DataFrame, parts: Int): Unit =
      df.repartition(parts).write.mode("overwrite").parquet(s"$dst/$name.parquet")
    // one row per replica; crossJoin fans a table out R× in one narrow pass
    val reps = spark.range(replicas).select(col("id").cast("int").as("__r"))
    def stride(df: DataFrame, key: String): Long =
      df.agg(max(col(key))).first().getLong(0) + 1
    def shifted(df: DataFrame, keys: Seq[(String, Long)]): DataFrame =
      keys.foldLeft(df.crossJoin(reps)) { case (d, (k, s)) =>
        d.withColumn(k, col(k) + col("__r") * s)
      }.drop("__r")

    save("region", load("region"), 1)
    save("nation", load("nation"), 1)

    val customer = load("customer")
    val custStride = stride(customer, "c_custkey")
    save("customer", shifted(customer, Seq("c_custkey" -> custStride))
      .withColumn("c_name", format_string("Customer#%09d", col("c_custkey"))), 8)

    val supplier = load("supplier")
    val suppStride = stride(supplier, "s_suppkey")
    save("supplier", shifted(supplier, Seq("s_suppkey" -> suppStride))
      .withColumn("s_name", format_string("Supplier#%09d", col("s_suppkey"))), 4)

    val part = load("part")
    val partStride = stride(part, "p_partkey")
    save("part", shifted(part, Seq("p_partkey" -> partStride)), 8)

    val orders = load("orders")
    val orderStride = stride(orders, "o_orderkey")
    save("orders", shifted(orders,
      Seq("o_orderkey" -> orderStride, "o_custkey" -> custStride)), 16)

    save("lineitem", shifted(load("lineitem"), Seq(
      "l_orderkey" -> orderStride, "l_partkey" -> partStride,
      "l_suppkey" -> suppStride)), 32)

    // graft.Tables.events already normalizes the source's TIMESTAMP(NANOS)
    // long back to a µs timestamp column
    val events = graft.Tables.events(spark, src)
    save("events", shifted(events, Seq(
      "event_id" -> stride(events, "event_id"),
      "user_id" -> stride(events, "user_id"))), 32)

    save("documents", scaledDocuments(spark, load("documents"), replicas), 16)
    save("embeddings", scaledEmbeddings(spark, load("embeddings"), replicas), 8)
  }

  /** Replica 0 = the source bytes; replica r>0 = same docs, words
    * shuffled by an RNG seeded from (r, md5(text)). Seeding from the
    * TEXT, not the doc_id, is what preserves duplicate clusters: two
    * identical texts get the identical permutation, so they stay
    * identical inside every replica. */
  private def scaledDocuments(spark: SparkSession, docs: DataFrame,
      replicas: Int): DataFrame = {
    import spark.implicits._
    val docStride = docs.agg(max(col("doc_id"))).first().getLong(0) + 1
    val reps = spark.range(replicas).select(col("id").cast("int").as("__r"))
    docs.crossJoin(reps).as[(Long, String, String, String, Long, Int)]
      .map { case (id, text, lang, source, nChars, r) =>
        if (r == 0 || text == null) ScaledDoc(id + r * docStride, text, lang, source, nChars)
        else {
          val md = java.security.MessageDigest.getInstance("MD5")
            .digest(text.getBytes("UTF-8"))
          val seed = java.nio.ByteBuffer.wrap(md).getLong ^ (r * 0x9e3779b97f4a7c15L)
          val words = text.split(" ")
          val rng = new java.util.Random(seed)
          var i = words.length - 1
          while (i > 0) { // Fisher–Yates
            val j = rng.nextInt(i + 1)
            val t = words(i); words(i) = words(j); words(j) = t
            i -= 1
          }
          val shuffled = words.mkString(" ")
          ScaledDoc(id + r * docStride, shuffled, lang, source, shuffled.length.toLong)
        }
      }.toDF()
  }

  /** Replica 0 = the source bytes; replica r>0 = every vector rotated by
    * one seeded random orthonormal matrix (Gaussian + Gram-Schmidt).
    * Rotations preserve ALL intra-replica inner products, so the label/
    * cluster geometry the kmeans/IVF/near-dup operators depend on is
    * replicated exactly; cross-replica cosines concentrate near 0. */
  private def scaledEmbeddings(spark: SparkSession, embeddings: DataFrame,
      replicas: Int): DataFrame = {
    import spark.implicits._
    val vecStride = embeddings.agg(max(col("vec_id"))).first().getLong(0) + 1
    val dim = embeddings.select(size(col("embedding"))).first().getInt(0)
    val rotations: Array[Array[Array[Double]]] =
      (0 until replicas).map { r =>
        if (r == 0) Array.tabulate(dim, dim)((i, j) => if (i == j) 1.0 else 0.0)
        else randomRotation(dim, 0xcafef00dL + r)
      }.toArray
    val bRot = spark.sparkContext.broadcast(rotations)
    val reps = spark.range(replicas).select(col("id").cast("int").as("__r"))
    embeddings.crossJoin(reps).as[(Long, Array[Float], Int, Int)]
      .map { case (id, emb, label, r) =>
        val out =
          if (r == 0 || emb == null) emb
          else {
            val rot = bRot.value(r)
            Array.tabulate(dim) { i =>
              var acc = 0.0
              var j = 0
              while (j < dim) { acc += rot(i)(j) * emb(j); j += 1 }
              acc.toFloat
            }
          }
        ScaledVec(id + r * vecStride, out, label)
      }.toDF()
  }

  /** Random orthonormal matrix: seeded Gaussian rows, Gram-Schmidt. */
  private[tools] def randomRotation(dim: Int, seed: Long): Array[Array[Double]] = {
    val rng = new java.util.Random(seed)
    val m = Array.fill(dim, dim)(rng.nextGaussian())
    var i = 0
    while (i < dim) {
      var k = 0
      while (k < i) {
        var dot = 0.0
        var j = 0
        while (j < dim) { dot += m(i)(j) * m(k)(j); j += 1 }
        j = 0
        while (j < dim) { m(i)(j) -= dot * m(k)(j); j += 1 }
        k += 1
      }
      var nrm = 0.0
      var j = 0
      while (j < dim) { nrm += m(i)(j) * m(i)(j); j += 1 }
      nrm = math.sqrt(nrm)
      j = 0
      while (j < dim) { m(i)(j) /= nrm; j += 1 }
      i += 1
    }
    m
  }
}
