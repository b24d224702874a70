package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.VectorOps.cosinePre

/** Product quantization (Jégou et al. 2011, "Product Quantization for
  * Nearest Neighbor Search") — the vector-compression half of the
  * IVF-ADC layout every 100 TB ANN deployment ships: the 64-dim
  * embedding splits into [[M]] subspaces of [[SubDim]] dims, each
  * subspace gets its own [[Ks]]-centroid codebook (trained by the same
  * deterministic Lloyd arithmetic as [[KMeansOp]]), and a vector is
  * stored as M small codes (M bytes at Ks=256) instead of 256 floats.
  * The reference stores raw CLIP vectors in Qdrant
  * (extracting_embeddings.py:432-439); PQ is the standard compression
  * those engines apply underneath.
  *
  * Search is ASYMMETRIC DISTANCE COMPUTATION (ADC): per query, a
  * (M × Ks)-entry lookup table of exact query-subvector→centroid
  * distances is computed ONCE (driver-side here — M·Ks·SubDim work,
  * bounded by construction), then every candidate's approximate
  * distance is M table lookups on its codes — no per-pair
  * vector arithmetic at all. In the plan that is a NARROW projection
  * over the encoded corpus (map-literal lookups + a fixed fold), no
  * join, no shuffle before the bounded-heap top-k; at 100 TB the scan
  * reads M code columns, not the 64-float vector.
  *
  * q112 is the serving refinement: ADC shortlists [[ShortlistK]]
  * candidates per query, then ONLY those rows are fetched (a keyed
  * join against the corpus, not a scan) and reranked by exact cosine —
  * the two-stage retrieve-then-rerank pattern that makes PQ's
  * approximation error irrelevant for final ranking.
  *
  * The codebooks and encoded codes are BUILD-ONCE artifacts
  * ([[graft.ArtifactStore]], the q72 IVF-index pattern): the gated
  * (s, dir) entries train + encode at most once per (source ×
  * PQ-params) key and every later call is the serving read path — a
  * scan of M code columns plus the ADC projection, the cost profile a
  * PQ index exists to deliver.
  *
  * Engine-exact by construction, same conventions as [[KMeansOp]]:
  * integral-double quantized vectors, exact integer recenter sums,
  * fixed left-to-right folds for every float chain (the driver-side
  * LUT uses the same fold order as the oracle's list_reduce), so
  * engine and DuckDB agree bitwise. Ties: cell assignment prefers the
  * lowest cell id; rankings order (dist asc, id asc) / (sim desc,
  * id asc) — total orders both engines replay.
  */
object PqOp {

  val M = 8
  val SubDim = 8 // M * SubDim = KMeansOp.Dim
  val Ks = 16
  val NQ = 8
  val TopK = 5
  // Serving shortlists run 10-100× the final k (FAISS's reorder_k):
  // at 12 bits of code per vector the ADC margin between true
  // neighbors and the pack is thin, and the shortlist is what buys
  // recall back — 50 here gives recall@1 ≥ 7/8 on the test corpora
  // (PqSpec) while the rerank still touches only K′ rows per query
  val ShortlistK = 50

  /** Subvector slice of the quantized vector for subspace `m`. */
  private def subSlice(q: Column, m: Int): Column =
    slice(q, m * SubDim + 1, SubDim)

  /** Train subspace `m`'s codebook: seed = first [[Ks]] vec_ids'
    * subvectors, then [[KMeansOp.lloyd]] (the collects are Ks rows of
    * SubDim doubles, bounded). The reference semantics [[trainSubs]] is
    * checked against. */
  private[graft] def trainSub(qv: DataFrame, m: Int): Seq[(Long, Seq[Double])] = {
    val sub = qv.select(col("vec_id"), subSlice(col("q"), m).as("q"))
    KMeansOp.lloyd(sub,
      KMeansOp.collectCents(sub.filter(col("vec_id") < Ks).orderBy("vec_id")))
  }

  /** All [[M]] subspace codebooks in one fused pass per round. The
    * per-subspace loop ([[trainSub]] × M) paid M seed collects plus
    * M·[[KMeansOp.Rounds]] assign+recenter round-trips over the same
    * checkpointed frame (24 driver jobs per build at M=8, Rounds=2);
    * this trains all eight from ONE seed collect (sliced driver-side)
    * and ONE exploded (m, cell) map-combined aggregate per round. The
    * recenter sums are the identical exact integral-double sums per
    * (m, cell), so the books are bit-identical to the per-subspace
    * path (spec-checked), and each book's update is
    * [[KMeansOp.meanOrKeep]]. */
  private[graft] def trainSubs(qv: DataFrame): Seq[Seq[(Long, Seq[Double])]] = {
    val seeds = KMeansOp.collectCents(qv.filter(col("vec_id") < Ks).orderBy("vec_id")
      .select(col("vec_id"), col("q")))
    var books: Seq[Seq[(Long, Seq[Double])]] = (0 until M).map { m =>
      seeds.map { case (id, q) => id -> q.slice(m * SubDim, (m + 1) * SubDim) }
    }
    if (seeds.isEmpty) return books
    // slices materialized ONCE behind a checkpoint barrier: inlining
    // subSlice(q, m) into the argmin would let CollapseProject recreate
    // the slice array per distance term (the q190 lesson — measured 40%
    // slower than the per-subspace loop), while here every term reads a
    // concrete 8-slot array attribute
    val sliced = qv.select(col("vec_id") +:
      (0 until M).map(m => subSlice(col("q"), m).as(s"q$m")): _*)
      .localCheckpoint()
    for (_ <- 1 to KMeansOp.Rounds) {
      val entries = (0 until M).map { m =>
        val sub = col(s"q$m")
        struct(lit(m).as("m") +: KMeansOp.cellCol(sub, books(m)).as("cell") +:
          (1 to SubDim).map(i => element_at(sub, i).as(s"x$i")): _*)
      }
      val sums = (1 to SubDim).map(i => sum(col(s"e.x$i")).as(s"s$i"))
      val rows = sliced.select(explode(array(entries: _*)).as("e"))
        .groupBy(col("e.m").as("m"), col("e.cell").as("cell"))
        .agg(count(lit(1)).cast("double").as("n"), sums: _*)
        .collect()
        .map(r => (r.getInt(0), r.getLong(1)) ->
          (r.getDouble(2), (0 until SubDim).map(i => r.getDouble(3 + i))))
        .toMap
      books = books.zipWithIndex.map { case (b, m) =>
        KMeansOp.meanOrKeep(b, id => rows.get((m, id)))
      }
    }
    books
  }

  /** PQ-encode: adds code0..code{M−1} (assigned cell per subspace) to
    * the quantized frame — M narrow argmin projections, no shuffle. */
  private[graft] def encode(qv: DataFrame,
      books: Seq[Seq[(Long, Seq[Double])]]): DataFrame = {
    var df = qv
    for (m <- 0 until M) {
      val sliced = df.withColumnRenamed("q", "__qfull")
        .withColumn("q", subSlice(col("__qfull"), m))
      df = KMeansOp.assign(sliced, books(m))
        .withColumnRenamed("cell", s"code$m")
        .drop("q").withColumnRenamed("__qfull", "q")
    }
    df
  }

  /** Driver-side exact subspace distance — the SAME fold order as
    * [[KMeansOp.dist2]] and the oracle's list_reduce chains: qq and qc
    * fold left over ascending dims, cc folds over the centroid, and
    * the combination is (qq − 2·qc) + cc. */
  private[graft] def lutDist(qsub: Seq[Double], c: Seq[Double]): Double = {
    val qq = qsub.foldLeft(0.0)((a, x) => a + x * x)
    val qc = qsub.indices.foldLeft(0.0)((a, i) => a + qsub(i) * c(i))
    val cc = c.foldLeft(0.0)((a, x) => a + x * x)
    qq - 2.0 * qc + cc
  }

  /** ADC distance columns, one struct(query_id, dist) per query: dist =
    * Σ_m LUT_m[code_m], the LUTs baked as map literals (M·Ks·NQ doubles
    * — at production Ks=256 the maps ride a broadcast like
    * [[KMeansOp.assignBroadcast]]'s centroids; at gate scale literals
    * keep the whole projection in codegen). */
  private[graft] def adcDistCols(queries: Seq[(Long, Seq[Double])],
      books: Seq[Seq[(Long, Seq[Double])]]): Seq[Column] =
    queries.map { case (qid, qvec) =>
      val d = (0 until M).map { m =>
        val qsub = qvec.slice(m * SubDim, (m + 1) * SubDim)
        val entries = books(m).flatMap { case (cell, c) =>
          Seq(lit(cell), lit(lutDist(qsub, c)))
        }
        element_at(map(entries: _*), col(s"code$m"))
      }.reduce(_ + _)
      struct(lit(qid).as("query_id"), d.as("dist"))
    }

  /** Unit-sphere quantization: the search metric is COSINE (the q27
    * ground truth), and PQ's ADC distance is L2 — on the unit sphere
    * L2² = 2 − 2·cos, so normalizing BEFORE quantization makes the ADC
    * ranking cosine-consistent (the standard trick every cosine-metric
    * PQ deployment uses). Raw-vector L2 would shortlist by magnitude
    * and lose the true cosine neighbor. Zero vectors have no direction
    * and drop at the scan (oracle filters identically). */
  private[graft] def unitQuantized(embeddings: DataFrame): DataFrame = {
    import graft.functions.VectorOps
    embeddings.where(col("embedding").isNotNull)
      .select(col("vec_id"), VectorOps.toDouble(col("embedding")).as("e"))
      .withColumn("nrm", VectorOps.norm(col("e")))
      .where(col("nrm") > 0.0)
      .select(col("vec_id"),
        transform(col("e"), x => round(x / col("nrm") * lit(KMeansOp.ScaleQ))).as("q"))
  }

  /** ADC-score an encoded corpus frame for the collected query set —
    * the serving projection both the inline and the indexed paths share:
    * one narrow explode over the code columns, no join, no shuffle. */
  private def scoreEncoded(enc: DataFrame, queries: Seq[(Long, Seq[Double])],
      books: Seq[Seq[(Long, Seq[Double])]]): DataFrame =
    enc
      .select(col("vec_id").as("__cand_id"),
        explode(array(adcDistCols(queries, books): _*)).as("qd"))
      .select(col("qd.query_id").as("query_id"), col("__cand_id"),
        col("qd.dist").as("dist"))
      .where(col("query_id") =!= col("__cand_id"))

  /** Shared chain: quantize → train M codebooks → encode → ADC-score
    * the corpus for the query set. Returns (query_id, __cand_id, dist)
    * or None when there is nothing to search (empty corpus / no seeds /
    * no queries — the typed-degenerate contract). Used by the
    * DataFrame-typed entry points (specs, ad-hoc corpora); the gated
    * (s, dir) path serves the persisted artifact instead. */
  private def adcScored(embeddings: DataFrame): Option[DataFrame] = {
    val qv = unitQuantized(embeddings).localCheckpoint()
    val books = trainSubs(qv)
    val queries = KMeansOp.collectCents(qv.filter(col("vec_id") < NQ).orderBy("vec_id"))
    if (books.exists(_.isEmpty) || queries.isEmpty) None
    else Some(scoreEncoded(encode(qv, books), queries, books))
  }

  // ------------------------------------------------------------------
  // Persisted PQ index: codebooks + encoded codes are BUILD-ONCE
  // artifacts (nobody trains a quantizer per query at 100 TB — FAISS
  // trains once and serves the codes forever). Same ArtifactStore
  // pattern as the q72 IVF index: build into staging, atomic publish,
  // keyed on source files × PQ params × input schema so any change
  // mints a new index. Repeat invocations (and the bench's warm pass)
  // then measure the SERVING read path: scan M code columns, ADC-score,
  // bounded top-k — the number that matters for an index.

  /** Bump when the stored schema, quantizer, or encoding changes. */
  private val LayoutVersion = "v1"

  /** Build the PQ index under `staging`: train the M subspace
    * codebooks, PQ-encode the corpus, write
    *   staging/codebooks.parquet  (m, cell, c)        — M·Ks rows, tiny
    *   staging/codes.parquet      (vec_id, code0..M−1) — M longs/vector
    * An untrainable corpus (empty / no seed vectors) publishes an empty
    * codebook table and no codes; the read path sees the empty books
    * and returns before it reads codes, instead of rebuilding forever. */
  private[graft] def buildPq(embeddings: DataFrame, staging: String): Unit = {
    val qv = unitQuantized(embeddings).localCheckpoint()
    val books = trainSubs(qv)
    writeBooks(embeddings.sparkSession, books, staging)
    if (!books.exists(_.isEmpty))
      graft.ArtifactStore.writeTable(encode(qv, books)
        .select(col("vec_id") +: (0 until M).map(m => col(s"code$m")): _*),
        s"$staging/codes.parquet")
  }

  /** Write the M codebooks as one (m, cell, c) table — M·Ks rows. */
  private[graft] def writeBooks(spark: SparkSession,
      books: Seq[Seq[(Long, Seq[Double])]], path: String): Unit = {
    val bookRows = books.zipWithIndex.flatMap { case (b, m) =>
      b.map { case (cell, c) => (m, cell, c) } }
    graft.ArtifactStore.writeTable(spark.createDataFrame(bookRows).toDF("m", "cell", "c")
      .coalesce(1), s"$path/codebooks.parquet")
  }

  /** Collect the persisted codebooks — ≤ M·Ks rows, bounded. */
  private[graft] def loadBooks(s: SparkSession, path: String): Seq[Seq[(Long, Seq[Double])]] = {
    val rows = graft.ArtifactStore.readTable(s, s"$path/codebooks.parquet")
      .orderBy("m", "cell").collect()
    (0 until M).map(m => rows.filter(_.getInt(0) == m)
      .map(r => r.getLong(1) -> r.getSeq[Double](2).toSeq).toSeq)
  }

  /** Ensure + serve the persisted index for `dir`: the returned scored
    * frame's scan is the CODES artifact (M code columns), never the
    * embeddings table — training ran at most once, at build time. */
  private def adcScoredIndexed(s: SparkSession, dir: String): Option[DataFrame] = {
    val em = Tables.embeddings(s, dir)
    val path = graft.ArtifactStore.ensureCurrent(s, s"pq_$LayoutVersion",
      Tables.dirFingerprint(s, dir,
        s"pq;m=$M;ks=$Ks;r=${KMeansOp.Rounds};scale=${KMeansOp.ScaleQ};${em.schema.catalogString}")) {
      staging => buildPq(em, staging)
    }
    val books = loadBooks(s, path)
    // quantizing the NQ query vectors is per-row work on a pushed-down
    // vec_id < NQ scan — not training
    val queries = KMeansOp.collectCents(
      unitQuantized(em).filter(col("vec_id") < NQ).orderBy("vec_id"))
    if (books.exists(_.isEmpty) || queries.isEmpty) None
    else Some(scoreEncoded(
      graft.ArtifactStore.readTable(s, s"$path/codes.parquet"), queries, books))
  }

  /** The ADC top-[[TopK]] ranking over a scored frame — bounded-heap
    * (≤k rows per partition-query into the one shuffle), ties
    * (dist, id). */
  private[graft] def adcRank(scored: DataFrame): DataFrame =
    scored.select(col("query_id"), col("__cand_id"), negate(col("dist")).as("sim"))
      .groupBy(col("query_id"))
      .agg(Similarity.topKAgg(col("sim"), col("__cand_id"), TopK).as("tk"))
      .select(col("query_id"), posexplode(col("tk")))
      // report in ORIGINAL embedding units (÷ ScaleQ² — one IEEE
      // division, identical both engines): the quantized-unit
      // magnitudes (~1e12) are where DuckDB's float-based ROUND
      // and Spark's BigDecimal ROUND disagree in the last ulp
      .select(col("query_id"), col("col.id").as("neighbor_id"),
        (col("pos") + 1).cast("long").as("rank"),
        round(negate(col("col.sim")) / lit(KMeansOp.ScaleQ * KMeansOp.ScaleQ), 9).as("dist_r"))
      .orderBy("query_id", "rank")

  /** q111: ADC top-[[TopK]] per query, served off the persisted index
    * (builds once per source dir, then every call is the read path). */
  def pqAdcTopK(s: SparkSession, dir: String): DataFrame =
    adcScoredIndexed(s, dir) match {
      case None => emptyResult(s, "dist_r")
      case Some(scored) => adcRank(scored)
    }

  /** Inline (train-in-place) twin for ad-hoc corpora — same chain, no
    * artifact; PqSpec proves it equals the indexed path. */
  def pqAdcTopK(embeddings: DataFrame): DataFrame =
    adcScored(embeddings) match {
      case None => emptyResult(embeddings.sparkSession, "dist_r")
      case Some(scored) => adcRank(scored)
    }

  /** The two-stage rerank over a scored frame: ADC shortlist of
    * `shortlistK`, exact-cosine rerank of ONLY those rows to
    * top-[[TopK]]. The rerank is a keyed join (shortlist × corpus on
    * vec_id), so full vectors are fetched for K′ rows per query, never
    * scanned. */
  private def rerankChain(scored: DataFrame, embeddings: DataFrame,
      shortlistK: Int): DataFrame = {
    val shortlist = scored
      .select(col("query_id"), col("__cand_id"), negate(col("dist")).as("sim"))
      .groupBy(col("query_id"))
      .agg(Similarity.topKAgg(col("sim"), col("__cand_id"), shortlistK).as("tk"))
      .select(col("query_id"), explode(col("tk.id")).as("neighbor_id"))
    val v = Dedup.normalized(embeddings)
    val qside = v.filter(col("vec_id") < NQ)
      .select(col("vec_id").as("query_id"), col("e").as("eq"), col("nrm").as("nq"))
    val cside = v.select(col("vec_id").as("neighbor_id"),
      col("e").as("ec"), col("nrm").as("nc"))
    val reranked = shortlist
      .join(cside, Seq("neighbor_id"))
      .join(broadcast(qside), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id").as("__cand_id"),
        cosinePre(col("eq"), col("ec"), col("nq"), col("nc")).as("sim"))
    reranked.groupBy(col("query_id"))
      .agg(Similarity.topKAgg(col("sim"), col("__cand_id"), TopK).as("tk"))
      .select(col("query_id"), posexplode(col("tk")))
      .select(col("query_id"), col("col.id").as("neighbor_id"),
        (col("pos") + 1).cast("long").as("rank"),
        round(col("col.sim"), 9).as("sim_r"))
      .orderBy("query_id", "rank")
  }

  /** q112: the indexed serving read — ADC shortlist off the persisted
    * codes, exact rerank fetching only the shortlisted vectors from the
    * source table. */
  def pqRerankTopK(s: SparkSession, dir: String): DataFrame =
    adcScoredIndexed(s, dir) match {
      case None => emptyResult(s, "sim_r")
      case Some(scored) => rerankChain(scored, Tables.embeddings(s, dir), ShortlistK)
    }

  def pqRerankTopK(embeddings: DataFrame): DataFrame =
    pqRerankTopK(embeddings, ShortlistK)

  /** Test hook: `shortlistK` ≥ corpus size degenerates to exact
    * brute-force search — PqSpec proves the two-stage machinery equals
    * q27's ranking bit-for-bit in that limit. */
  private[graft] def pqRerankTopK(embeddings: DataFrame, shortlistK: Int): DataFrame =
    adcScored(embeddings) match {
      case None => emptyResult(embeddings.sparkSession, "sim_r")
      case Some(scored) => rerankChain(scored, embeddings, shortlistK)
    }

  private[graft] def emptyResult(s: SparkSession, scoreCol: String): DataFrame = {
    import org.apache.spark.sql.types._
    s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(
        StructField("query_id", LongType), StructField("neighbor_id", LongType),
        StructField("rank", LongType), StructField(scoreCol, DoubleType))))
  }

  // ------------------------------------------------------------------
  // Oracle: the identical chain unrolled as DuckDB CTEs.

  /** Per-subspace Lloyd chain: `qv_m<m>` (the subspace slice of `src`)
    * and [[KMeansOp.lloydCtes]] stemmed `s<m>`, seeded with the first
    * [[Ks]] vec_ids — its final assignment `s<m>af` is the subspace's
    * code. `src` is the (vec_id, q) table the chain trains/encodes over
    * — "qv" for q111's raw vectors, "rqv" for IVF-PQ's coarse
    * residuals. */
  private[graft] def subspaceCtes(m: Int, src: String = "qv"): String = {
    val sub = s"qv_m$m"
    val seed = s"SELECT CAST(vec_id AS BIGINT) AS cell, q AS c FROM $sub WHERE vec_id < $Ks"
    s"""$sub AS (SELECT vec_id, q[${m * SubDim + 1}:${(m + 1) * SubDim}] AS q FROM $src),
       |${KMeansOp.lloydCtes(s"s$m", seed, sub, SubDim, sub)}""".stripMargin
  }

  /** The unit-quantization CTE (`qv`) — [[unitQuantized]] replayed. */
  private[graft] def qvCte: String =
    s"""qv AS (SELECT vec_id, list_transform(e, x -> round(x / nrm * ${KMeansOp.ScaleQ})) AS q
       | FROM (SELECT vec_id, e,
       |    sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(range(1, len(e)+1), i -> e[i]*e[i])), (x,y) -> x+y)) AS nrm
       |  FROM (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
       |    FROM embeddings WHERE embedding IS NOT NULL))
       | WHERE nrm > 0)""".stripMargin

  /** M subspace train/encode chains over `src` plus the combined `enc`
    * (vec_id, code0..M−1) — the PQ half, reusable over raw vectors
    * ("qv") or coarse residuals ("rqv"). */
  private[graft] def pqChainCtes(src: String): String = {
    val subs = (0 until M).map(m => subspaceCtes(m, src)).mkString(",\n")
    val encFrom = (0 until M).map(m =>
      if (m == 0) s"s${m}af e$m" else s"JOIN s${m}af e$m USING (vec_id)").mkString(" ")
    val codeCols = (0 until M).map(m => s"e$m.cell AS code$m").mkString(", ")
    s"""$subs,
       |enc AS (SELECT e0.vec_id, $codeCols FROM $encFrom)""".stripMargin
  }

  /** The M codebook joins resolving a candidate's codes to centroids. */
  private[graft] def cfJoinsSql: String = (0 until M).map(m =>
    s"JOIN ${KMeansOp.centsCte(s"s$m")} cf$m ON cf$m.cell = enc.code$m").mkString(" ")

  /** Per-subspace ADC terms: exact dist2 between the query vector
    * `qref` (a full-Dim list column reference, e.g. "qs.q") sliced at
    * each offset and the candidate's assigned centroid — folds match
    * the engine's driver-side LUT bitwise. */
  private[graft] def adcTermsSql(qref: String): String =
    (0 until M).map { m =>
      val off = m * SubDim
      val lr = KMeansOp.lr(SubDim, _: String)
      s"${lr(s"$qref[$off+i]*$qref[$off+i]")} - 2.0 * ${lr(s"$qref[$off+i]*cf$m.c[i]")} + ${lr(s"cf$m.c[i]*cf$m.c[i]")}"
    }.map(t => s"($t)").mkString(" + ")

  /** WITH-body: quantize, M subspace chains, `enc` (vec_id + codes),
    * `adc` ((query, cand) ADC distances via the final codebooks). */
  private[graft] def adcCtes: String =
    s"""$qvCte,
       |${pqChainCtes("qv")},
       |qs AS (SELECT vec_id AS query_id, q FROM qv WHERE vec_id < $NQ),
       |adc AS (SELECT qs.query_id, enc.vec_id AS neighbor_id, ${adcTermsSql("qs.q")} AS dist
       |  FROM qs CROSS JOIN enc $cfJoinsSql
       |  WHERE qs.query_id <> enc.vec_id)""".stripMargin

  /** q111 oracle. */
  def pqAdcOracleSql: String =
    s"""WITH $adcCtes
       |SELECT query_id, neighbor_id, CAST(rn AS BIGINT) AS rank,
       |  ROUND(dist / ${KMeansOp.ScaleQ * KMeansOp.ScaleQ}, 9) AS dist_r
       |FROM (SELECT query_id, neighbor_id, dist,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY dist, neighbor_id) AS rn
       |  FROM adc)
       |WHERE rn <= $TopK ORDER BY query_id, rank""".stripMargin

  /** q112 oracle: shortlist by ADC, rerank by exact cosine. */
  def pqRerankOracleSql: String =
    s"""WITH $adcCtes,
       |sl AS (SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY dist, neighbor_id) AS rn
       |    FROM adc) WHERE rn <= $ShortlistK),
       |n0 AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
       |  FROM embeddings WHERE embedding IS NOT NULL),
       |n AS (SELECT vec_id, e,
       |  sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |    list_transform(range(1, len(e)+1), i -> e[i]*e[i])), (x,y) -> x+y)) AS nrm FROM n0),
       |rr AS (SELECT sl.query_id, sl.neighbor_id,
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(range(1, len(q.e)+1), i -> q.e[i]*c.e[i])), (x,y) -> x+y)
       |     / (q.nrm * c.nrm) AS sim
       |  FROM sl JOIN n c ON c.vec_id = sl.neighbor_id
       |  JOIN n q ON q.vec_id = sl.query_id)
       |SELECT query_id, neighbor_id, CAST(rn AS BIGINT) AS rank, ROUND(sim, 9) AS sim_r
       |FROM (SELECT query_id, neighbor_id, sim,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rn
       |  FROM rr)
       |WHERE rn <= $TopK ORDER BY query_id, rank""".stripMargin

  /** q183: PQ compression-quality audit — recall@[[TopK]] of the raw
    * ADC ranking (q111) and of the two-stage rerank (q112) against the
    * exact-cosine truth for the same [[NQ]] queries. The q129 recall
    * audit aimed at the LSH family; THIS one closes the loop on the
    * compressed index: it is the number that decides whether 8-byte
    * codes (32× compression at d=64) can serve directly or need the
    * rerank stage — the standard accept/reject gate for a PQ rollout
    * (Jégou et al., TPAMI 2011 §V evaluates exactly this recall curve).
    *
    * Scale notes: the truth arm is q27's shape (broadcast queries,
    * map-side bounded-heap top-k — the corpus never shuffles); the ADC
    * and rerank arms are the PERSISTED serving read paths (no retrain —
    * the q111/q112 artifact); the joins and rollup run over
    * NQ·[[TopK]]-row frames. Recall integers are exact; no doubles in
    * the output at all. */
  def pqRecall(s: SparkSession, dir: String): DataFrame = {
    val truth = exactTruthTopK(Tables.embeddings(s, dir))
    // ONE indexed ADC pass feeds BOTH audit arms — q111's ranking and
    // q112's rerank previously each re-collected the codebooks and
    // queries and re-scanned the codes artifact; the scored frame
    // (NQ·corpus rows of 3 scalars) is materialized once for the two
    // consumers. Same rankings as the gated q111/q112 entries (shared
    // adcRank/rerankChain).
    val (adcTk, rrTk) = adcScoredIndexed(s, dir) match {
      case None => (emptyResult(s, "dist_r"), emptyResult(s, "sim_r"))
      case Some(scored0) =>
        val scored = scored0.localCheckpoint()
        (adcRank(scored),
          rerankChain(scored, Tables.embeddings(s, dir), ShortlistK))
    }
    val adc = adcTk
      .select(col("query_id"), col("neighbor_id"), lit(1L).as("hit_adc"))
    val rr = rrTk
      .select(col("query_id"), col("neighbor_id"), lit(1L).as("hit_rerank"))
    truth.join(adc, Seq("query_id", "neighbor_id"), "left")
      .join(rr, Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_truth"),
        sum(coalesce(col("hit_adc"), lit(0L))).as("hits_adc"),
        sum(coalesce(col("hit_rerank"), lit(0L))).as("hits_rerank"))
      .orderBy("query_id")
  }

  /** The exact-cosine truth arm shared by the recall audits (q183/q198):
    * q27's shape — broadcast queries, map-side bounded-heap top-k, the
    * corpus never shuffles. Returns (query_id, neighbor_id). */
  private[graft] def exactTruthTopK(embeddings: DataFrame): DataFrame = {
    val v = Dedup.normalized(embeddings)
    val q = v.filter(col("vec_id") < NQ)
      .select(col("vec_id").as("query_id"), col("e").as("eq"), col("nrm").as("nq"))
    val c = v.select(col("vec_id").as("__cand_id"), col("e").as("ec"),
      col("nrm").as("nc"))
    val scored = broadcast(q).join(c, col("query_id") =!= col("__cand_id"))
      .select(col("query_id"), col("__cand_id"),
        cosinePre(col("eq"), col("ec"), col("nq"), col("nc")).as("sim"))
    Similarity.explodeTopKPerGroup(scored, "query_id", "neighbor_id", TopK)
      .select(col("query_id"), col("neighbor_id"))
  }

  /** Oracle twin of [[exactTruthTopK]]: n0/n (normalized vectors),
    * bp (all exact-cosine pairs), bt (truth top-[[TopK]]). */
  private[graft] def exactTruthCtes: String =
    s"""n0 AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
       |  FROM embeddings WHERE embedding IS NOT NULL),
       |n AS (SELECT vec_id, e,
       |  sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |    list_transform(range(1, len(e)+1), i -> e[i]*e[i])), (x,y) -> x+y)) AS nrm FROM n0),
       |bp AS (SELECT q2.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(range(1, len(q2.e)+1), i -> q2.e[i]*c.e[i])), (x,y) -> x+y)
       |     / (q2.nrm * c.nrm) AS sim
       |  FROM n q2 JOIN n c ON q2.vec_id < $NQ AND q2.vec_id <> c.vec_id),
       |bt AS (SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rn
       |    FROM bp) WHERE rn <= $TopK)""".stripMargin

  /** q183 oracle: the q111/q112 chains and the exact-cosine chain
    * composed under one WITH, joined on (query, neighbor) like the
    * engine. */
  def pqRecallOracleSql: String =
    s"""WITH $adcCtes,
       |at AS (SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY dist, neighbor_id) AS rn
       |    FROM adc) WHERE rn <= $TopK),
       |sl AS (SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY dist, neighbor_id) AS rn
       |    FROM adc) WHERE rn <= $ShortlistK),
       |$exactTruthCtes,
       |rrp AS (SELECT sl.query_id, sl.neighbor_id,
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(range(1, len(q.e)+1), i -> q.e[i]*c.e[i])), (x,y) -> x+y)
       |     / (q.nrm * c.nrm) AS sim
       |  FROM sl JOIN n c ON c.vec_id = sl.neighbor_id
       |  JOIN n q ON q.vec_id = sl.query_id),
       |rt AS (SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rn
       |    FROM rrp) WHERE rn <= $TopK)
       |SELECT bt.query_id, CAST(COUNT(*) AS BIGINT) AS n_truth,
       |  CAST(SUM(CASE WHEN at.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits_adc,
       |  CAST(SUM(CASE WHEN rt.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits_rerank
       |FROM bt
       |LEFT JOIN at ON bt.query_id = at.query_id AND bt.neighbor_id = at.neighbor_id
       |LEFT JOIN rt ON bt.query_id = rt.query_id AND bt.neighbor_id = rt.neighbor_id
       |GROUP BY bt.query_id ORDER BY bt.query_id""".stripMargin
}
