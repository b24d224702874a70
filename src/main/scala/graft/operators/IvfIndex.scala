package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ArtifactStore.{readTable, writeTable}

/** Persisted IVF index: the serving-side layout for ANN at scale.
  *
  * [[buildExact]] trains the coarse quantizer and writes
  *   path/centroids.parquet          (cell, center)       — tiny, broadcast
  *   path/corpus/cell=<c>/...        (vec_id, e, nrm)     — hive-partitioned
  * [[searchExact]] ranks cells per query against the centroids and
  * joins only the probed cells; because `cell` is the partition column,
  * Spark's dynamic partition pruning skips the unprobed directories — at
  * 100 TB each query batch physically reads nprobe/nlist of the corpus. */
object IvfIndex {

  /** Build the index with the deterministic [[KMeansOp]] quantizer — the
    * persisted twin of q65's in-memory pipeline. The train loop, cell
    * assignment, and stored doubles are all engine-exact, so the READ
    * path ([[searchExact]]) is value-oracle-checkable. */
  def buildExact(embeddings: DataFrame, path: String): Unit = {
    val spark = embeddings.sparkSession
    val (qv, cents) = KMeansOp.trainCentsScaled(embeddings)
    val assigned = KMeansOp.assignAuto(qv, cents).select(col("vec_id"), col("cell"))
    writeTable(spark.createDataFrame(cents.map { case (id, c) => (id, c) })
      .toDF("cell", "center").coalesce(1), s"$path/centroids.parquet")
    writeTable(Dedup.normalized(embeddings).join(assigned, Seq("vec_id")),
      s"$path/corpus", "cell")
  }

  /** Search the exact persisted index: probe ranking replays q65's
    * exact-dist2 cell sort against the (collected, K-row) centroid
    * table; the probed (query, cell) rows broadcast against the
    * hive-partitioned corpus, so the scan physically reads only the
    * probed cell directories (dynamic partition pruning — PlanSpec
    * locks it in). Output is identical to [[Similarity.ivfTopKExact]],
    * which is what lets q72 share q65's generated oracle. */
  def searchExact(spark: SparkSession, path: String, queries: DataFrame,
      nprobe: Int = 3, k: Int = 10): DataFrame = {
    val cents = KMeansOp.collectCents(readTable(spark, s"$path/centroids.parquet").orderBy("cell"))
    val corpus = readTable(spark, s"$path/corpus")
      .select(col("vec_id").as("__cand_id"), col("e").as("ec"),
        col("nrm").as("nc"), col("cell"))
    // probe + score through the ONE shared pipeline (Similarity
    // .ivfProbeScore) so this read path can never drift from q65's
    // in-memory path, whose generated oracle q72 shares
    Similarity.ivfProbeScore(KMeansOp.quantized(queries),
      Dedup.normalized(queries), cents, corpus, nprobe, k)
  }

  /** Layout version baked into the index name: bump when the stored
    * schema or quantizer changes so a stale on-disk index can never
    * satisfy the existence check after a code change. */
  private val LayoutVersion = "v3"

  /** q72: build-once + search the exact persisted index in one gated
    * query — result equals q65 (shared oracle), but the candidates come
    * off the cell-partitioned on-disk layout through partition pruning.
    * The index lives in [[graft.ArtifactStore]] (Hadoop FS, built into a
    * staging dir and atomically renamed — so the centroids and corpus
    * appear together or not at all) and builds only when absent: a
    * persisted index is built once and served many times, so repeat
    * invocations (and the bench's warm pass) measure the READ path,
    * which is the number that matters for a serving layout. */
  def ivfIndexedTopK(s: SparkSession, dir: String): DataFrame = {
    val em = graft.Tables.embeddings(s, dir)
    val path = graft.ArtifactStore.ensureCurrent(s,
      s"ivf_exact_$LayoutVersion",
      graft.Tables.dirFingerprint(s, dir, KMeansOp.nlistLadderTag)) {
      staging => buildExact(em, staging)
    }
    searchExact(s, path, em.filter(col("vec_id") < 10))
  }

  /** Index MAINTENANCE: assign a new batch to the EXISTING index's
    * centroids (no retrain — the coarse quantizer is a build-time
    * artifact, exactly like a production IVF deployment between
    * periodic retrains) and append the assigned rows to the
    * cell-partitioned corpus. Cost: one bounded centroid read + one
    * batch-sized narrow assignment + one partitioned append — the
    * corpus in place is never rewritten. */
  def upsertBatch(s: SparkSession, path: String, batch: DataFrame): Unit = {
    val cents = KMeansOp.collectCents(readTable(s, s"$path/centroids.parquet").orderBy("cell"))
    // an empty (untrainable) index has no cells — nothing to assign to
    if (cents.nonEmpty) {
      val qv = KMeansOp.quantized(batch)
      val assigned = KMeansOp.assignAuto(qv, cents).select(col("vec_id"), col("cell"))
      Dedup.normalized(batch).join(assigned, Seq("vec_id"))
        .write.mode("append").partitionBy("cell").parquet(s"$path/corpus")
    }
  }

  /** q157: the index LIFECYCLE gate — build the exact persisted index
    * on the base 4/5ths of the corpus, upsert the held-out 1/5th as a
    * no-retrain batch append, then search the maintained index (queries
    * include upserted vectors, so both the old and the new rows must
    * surface). Build + upsert happen once per source dir inside the
    * artifact build (so repeat calls measure the serving read, q72's
    * stance); the oracle replays train-on-base + assign-ALL +
    * probe/score, value-proving the maintained index equals a
    * from-scratch assignment under the same quantizer. */
  def ivfUpsertTopK(s: SparkSession, dir: String): DataFrame = {
    val em = graft.Tables.embeddings(s, dir)
    val path = graft.ArtifactStore.ensureCurrent(s,
      s"ivf_upsert_$LayoutVersion",
      graft.Tables.dirFingerprint(s, dir,
        s"ivf-upsert;base=mod5ne0;${KMeansOp.nlistLadderTag}")) { staging =>
      buildExact(em.filter(col("vec_id") % 5 =!= 0), staging)
      upsertBatch(s, staging, em.filter(col("vec_id") % 5 === 0))
    }
    searchExact(s, path, em.filter(col("vec_id") < 10))
  }

  /** q157 oracle: [[KMeansOp.kmeansScaledCtes]] trained on the base
    * split with the assign-ALL arm, then the q65/q72 probe-and-score
    * replay over the full assigned corpus. */
  def ivfUpsertOracleSql(nprobe: Int = 3, k: Int = 10): String =
    s"""WITH ${KMeansOp.kmeansScaledCtes("vec_id % 5 <> 0", includeAllAssign = true)},
       |${Similarity.ivfProbeScoreOracleSql("qva", "afa", nprobe, k)}""".stripMargin
}
