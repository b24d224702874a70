package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the settings every graft job wants.
  *
  * Scale notes: AQE handles runtime coalescing + skew-join splitting on a
  * real cluster; shuffle.partitions is a default that AQE re-plans, sized
  * here for local[32] test runs (on a 1000-executor cluster you'd set it
  * to ~2-3x total cores and let AQE coalesce).
  */
object GraftSession {
  /** Size of Spark's generated-class cache; see the setting in `builder`. */
  val codegenCacheEntries = 1024

  def builder(master: String = "local[32]", shufflePartitions: Int = 32): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // expose graft's native expressions (dot_product_double,
      // word_shingles, minhash_signature) to SQL
      .config("spark.sql.extensions", "org.apache.spark.sql.graftbridge.GraftExtensions")
      // test events.parquet carries TIMESTAMP(NANOS); see Tables.events
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // bucketed-table metadata (co-located joins) lands under target/,
      // not the repo root
      .config("spark.sql.warehouse.dir", "target/spark-warehouse")
      .config("spark.ui.enabled", "false")
      // Spark's JVM-wide LRU cache of generated classes holds 100 by
      // default. One curation request, or one medallion pass, needs ~160
      // distinct classes, so at 100 every class is evicted before its next
      // use and each repeated pass recompiles it (~145 compilations, 2-2.5 s
      // of janino per perfbench pass) and runs it cold again. 1024 holds
      // either working set several times over; it stays bounded because a
      // streaming driver still compiles a few new classes per trigger.
      // Static: read once, when the first class is generated.
      .config("spark.sql.codegen.cache.maxEntries", codegenCacheEntries.toString)

  def get(): SparkSession = {
    val s = builder().getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
