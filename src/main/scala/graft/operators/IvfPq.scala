package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ArtifactStore.{readTable, writeTable}
import graft.Tables

/** IVF-PQ: the coarse-quantizer × product-quantizer composition that is
  * THE serving topology for billion-vector ANN (Jégou et al. 2011 §IV
  * "IVFADC"; FAISS `IVFx,PQy`). [[PqOp]] (q111/q112) compresses vectors
  * to M codes but still ADC-scans the WHOLE corpus per query batch;
  * [[IvfIndex]] (q72) prunes the scan to nprobe cells but stores raw
  * vectors. This operator does both: the corpus is partitioned by a
  * trained coarse cell AND stored as PQ codes, so a query batch
  * physically reads nprobe/nlist of the corpus at M longs per vector —
  * at 100 TB that is the difference between scanning terabytes of
  * floats and reading a few gigabytes of codes. The reference serves
  * raw CLIP vectors from Qdrant (extracting_embeddings.py:432-439);
  * IVF-PQ is the layout such engines switch to when the corpus outgrows
  * RAM.
  *
  * RESIDUAL encoding (FAISS `by_residual=true`, the IVFADC default):
  * PQ codes quantize x − c(cell), not x. Inside a coarse cell the
  * residuals span a far smaller box than the raw corpus, so the same
  * Ks codebook centroids land much closer — the codes get "sharper"
  * exactly where the probe already narrowed the search; q198 measures
  * the recall gain against the raw-vector variant. Residuals are
  * floored to the quantization grid (ScaleQ units) before PQ training:
  * raw x is integral there and the Lloyd centroid is a rational with a
  * bit-identical value in both engines, so `floor(x − c)` is an
  * integral double and the ENTIRE downstream PQ chain keeps the exact
  * integer-sum recenter arithmetic [[KMeansOp]]'s determinism rests on
  * (an unfloored residual would make recenter SUMs order-dependent
  * doubles — the one thing the oracle cannot replay). At ScaleQ = 10⁶
  * the flooring changes each coordinate by < 1 part in 10⁶ of the unit
  * sphere — noise far below PQ's own quantization error.
  *
  * The COARSE seed takes the nlist lowest md5(vec_id) rows (nlist
  * corpus-scaled via [[KMeansOp.scaledNList]], floor [[MinNList]]), not
  * the first nlist vec_ids: a corpus whose id-prefix is boilerplate
  * duplicates (the q104 SemDeDup lesson) would hand Lloyd nlist copies
  * of ONE point — every vector ties to the lowest cell and the
  * partition degenerates to a single list. Hash-scrambling makes the
  * seed a uniform corpus sample regardless of id layout, at the cost of
  * one bounded TakeOrdered.
  *
  * Index layout (build-once [[graft.ArtifactStore]] artifact, the
  * q72/q111 pattern):
  *   cells.parquet              (cell, c)          — nlist rows, tiny
  *   codebooks.parquet          (m, cell, c)       — M·Ks rows (residual-
  *                                                   trained), tiny
  *   codes/cell=<g>/...         (vec_id, code0..M−1) — hive-partitioned
  * Serving: rank the nlist cells per query driver-side (bounded —
  * nlist·Dim work), read ONLY the probed partitions (static partition
  * pruning on the `cell IN (...)` filter — IvfPqSpec pins the file
  * pruning), ADC-score each probed cell against the query's PER-CELL
  * residual LUT, bounded-heap top-k.
  *
  * Determinism: coarse train is [[KMeansOp.lloyd]] at Dim=64 over the
  * unit-quantized frame (integral-double vectors, exact integer
  * recenter sums, fixed left-to-right folds, ties by lowest cell id);
  * the PQ half is exactly q111's machinery pointed at the integral
  * residual frame.
  */
object IvfPq {

  /** Ladder floor: 16 cells at gate scale; the served nlist is
    * CORPUS-SCALED via [[KMeansOp.scaledNList]] (round-9: the q40-q42
    * fixed-constant lesson applied to the index family — a fixed
    * nlist=16 made q188's probe read nprobe/16 of the corpus at any
    * size, measured 10.7× at 100× data). */
  val MinNList = 16
  val NProbe = 4
  private val Dim = KMeansOp.Dim

  /** Bump when the stored schema, quantizer, or encoding changes.
    * v2: residual-encoded codes + md5-scrambled coarse seed. */
  private val LayoutVersion = "v3"

  // ------------------------------------------------------------------
  // Coarse quantizer: Lloyd at full Dim over the unit-quantized frame.

  /** Seed = the corpus-scaled-nlist lowest-md5(vec_id) rows (a
    * hash-scrambled corpus sample — immune to a degenerate id-prefix,
    * one bounded TakeOrdered), then [[KMeansOp.lloyd]]. The count runs
    * on the caller's already-checkpointed frame (one cached scan). */
  private[graft] def trainCoarse(qv: DataFrame): Seq[(Long, Seq[Double])] = {
    val nlist = KMeansOp.scaledNList(qv.count(), MinNList)
    KMeansOp.lloyd(qv, KMeansOp.collectCents(qv
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
      .limit(nlist)))
  }

  /** Coarse-assign, then replace q by the floored residual q − c(cell)
    * — the frame every PQ stage (train, encode) runs on. Centroids
    * ride a broadcast (cell, c) join rather than a literal map — a
    * nlist·Dim literal map was fine at 16 cells but is a plan/codegen
    * wall at the corpus-scaled 512+. The checkpoint is load-bearing:
    * `encode` slices q once per subspace and a live HOF-built column
    * would re-evaluate the transform per slice (the q190 inlining
    * trap). */
  private def residualized(qv: DataFrame,
      cents: Seq[(Long, Seq[Double])]): DataFrame = {
    val centsDf = KMeansOp.centsToDf(qv.sparkSession, cents)
      .select(col("cell").as("gcell"), col("c").as("__c"))
    KMeansOp.assignAuto(qv, cents)
      .withColumnRenamed("cell", "gcell")
      .join(broadcast(centsDf), Seq("gcell"))
      .withColumn("q", transform(col("q"),
        (x, i) => floor(x - element_at(col("__c"), i + 1)).cast("double")))
      .drop("__c")
      .localCheckpoint()
  }

  // ------------------------------------------------------------------
  // Build.

  /** Build the IVF-PQ index under `staging`. An untrainable corpus
    * (empty / no seeds) publishes empty cells/codebooks and no codes
    * (the read path sees the empty tables and returns before it reads
    * codes), instead of rebuilding forever. */
  private[graft] def buildIvfPq(embeddings: DataFrame, staging: String): Unit = {
    val spark = embeddings.sparkSession
    val qv = PqOp.unitQuantized(embeddings).localCheckpoint()
    val cents = trainCoarse(qv)
    val rqv =
      if (cents.isEmpty) qv // empty corpus: nothing to residualize
      else residualized(qv, cents)
    val books = PqOp.trainSubs(rqv)
    writeTable(spark.createDataFrame(cents.map { case (id, c) => (id, c) })
      .toDF("cell", "c").coalesce(1), s"$staging/cells.parquet")
    PqOp.writeBooks(spark, books, staging)
    if (cents.nonEmpty && !books.exists(_.isEmpty))
      writeTable(PqOp.encode(rqv, books)
        .select(col("vec_id") +:
          (0 until PqOp.M).map(m => col(s"code$m")) :+
          col("gcell").as("cell"): _*), s"$staging/codes", "cell")
  }

  // ------------------------------------------------------------------
  // Serve.

  /** Per-query probe list: exact dist2 to each coarse centroid
    * (driver-side — nlist·Dim work, the same fold as the oracle's
    * ORDER BY), ties by lowest cell, take [[NProbe]]. */
  private def probeCells(queries: Seq[(Long, Seq[Double])],
      cents: Seq[(Long, Seq[Double])], nprobe: Int): Seq[(Long, Seq[Long])] =
    queries.map { case (qid, qvec) =>
      qid -> cents.map { case (cell, c) => (PqOp.lutDist(qvec, c), cell) }
        .sortBy { case (d, cell) => (d, cell) }.take(nprobe).map(_._2)
    }

  /** ADC-score the probed slice of a residual-encoded codes frame: one
    * struct per (query, probed cell) carrying that pair's LUT — the
    * query's residual against THAT cell's centroid, since residual
    * codes only compare inside their own cell — exploded over the
    * pruned scan and masked to cell equality. No join, no shuffle
    * before the bounded top-k heap; NQ·NProbe structs per row. */
  private def scoreProbedResidual(codes: DataFrame,
      queries: Seq[(Long, Seq[Double])], books: Seq[Seq[(Long, Seq[Double])]],
      probes: Seq[(Long, Seq[Long])],
      cents: Seq[(Long, Seq[Double])]): DataFrame = {
    val union = probes.flatMap(_._2).distinct.sorted
    val qmap = queries.toMap
    val centMap = cents.toMap
    val qcStructs = probes.flatMap { case (qid, cells) =>
      val qvec = qmap(qid)
      cells.map { cell =>
        val c = centMap(cell)
        // the query's residual vs this cell — floored like the data side
        val qr = qvec.indices.map(i => math.floor(qvec(i) - c(i)))
        val d = (0 until PqOp.M).map { m =>
          val qsub = qr.slice(m * PqOp.SubDim, (m + 1) * PqOp.SubDim)
          val entries = books(m).flatMap { case (bc, cv) =>
            Seq(lit(bc), lit(PqOp.lutDist(qsub, cv)))
          }
          element_at(map(entries: _*), col(s"code$m"))
        }.reduce(_ + _)
        struct(lit(qid).as("query_id"), lit(cell).as("pcell"), d.as("dist"))
      }
    }
    codes
      .where(col("cell").isin(union: _*))
      .select(col("vec_id").as("__cand_id"), col("cell"),
        explode(array(qcStructs: _*)).as("qd"))
      .where(col("qd.pcell") === col("cell"))
      .select(col("qd.query_id").as("query_id"), col("__cand_id"),
        col("qd.dist").as("dist"))
      .where(col("query_id") =!= col("__cand_id"))
  }

  /** Raw-vector scoring (FAISS `by_residual=false`) — kept as the
    * comparison arm for the recall spec: one LUT per query (valid
    * across cells, since codes quantize the raw vector), masked to the
    * query's own probe list. */
  private def scoreProbedRaw(codes: DataFrame,
      queries: Seq[(Long, Seq[Double])], books: Seq[Seq[(Long, Seq[Double])]],
      probes: Seq[(Long, Seq[Long])]): DataFrame = {
    val union = probes.flatMap(_._2).distinct.sorted
    val probeMap = map(probes.flatMap { case (qid, cells) =>
      Seq(lit(qid), array(cells.map(lit): _*)) }: _*)
    codes
      .where(col("cell").isin(union: _*))
      .select(col("vec_id").as("__cand_id"), col("cell"),
        explode(array(PqOp.adcDistCols(queries, books): _*)).as("qd"))
      .where(array_contains(element_at(probeMap, col("qd.query_id")), col("cell")))
      .select(col("qd.query_id").as("query_id"), col("__cand_id"),
        col("qd.dist").as("dist"))
      .where(col("query_id") =!= col("__cand_id"))
  }

  /** Ensure + serve the persisted index for `dir`: the returned scored
    * frame's scan is the cell-partitioned CODES artifact restricted to
    * the probed cells — training ran at most once, at build time. */
  private def servedScored(s: SparkSession, dir: String,
      nprobe: Int): Option[DataFrame] = {
    val em = Tables.embeddings(s, dir)
    val path = graft.ArtifactStore.ensureCurrent(s, s"ivfpq_$LayoutVersion",
      Tables.dirFingerprint(s, dir,
        s"ivfpq;res;md5seed;${KMeansOp.nlistLadderTag(MinNList)};cr=${KMeansOp.Rounds};m=${PqOp.M};ks=${PqOp.Ks};" +
        s"r=${KMeansOp.Rounds};scale=${KMeansOp.ScaleQ};${em.schema.catalogString}")) {
      staging => buildIvfPq(em, staging)
    }
    val cents = KMeansOp.collectCents(readTable(s, s"$path/cells.parquet").orderBy("cell"))
    val books = PqOp.loadBooks(s, path)
    val queries = KMeansOp.collectCents(
      PqOp.unitQuantized(em).filter(col("vec_id") < PqOp.NQ).orderBy("vec_id"))
    if (cents.isEmpty || books.exists(_.isEmpty) || queries.isEmpty) None
    else {
      val codes = readTable(s, s"$path/codes")
      Some(scoreProbedResidual(codes, queries, books,
        probeCells(queries, cents, nprobe), cents))
    }
  }

  /** q188: IVF-PQ top-[[PqOp.TopK]] per query off the persisted index —
    * build once, then every call is the pruned serving read. */
  def ivfpqTopK(s: SparkSession, dir: String): DataFrame =
    servedScored(s, dir, NProbe) match {
      case None => PqOp.emptyResult(s, "dist_r")
      case Some(scored) => PqOp.adcRank(scored)
    }

  /** Inline (train-in-place) twin for ad-hoc corpora — same chain, no
    * artifact; IvfPqSpec proves it equals the indexed path. The
    * `byResidual = false` arm keeps the raw-vector variant alive purely
    * as the recall-comparison baseline. */
  def ivfpqTopK(embeddings: DataFrame): DataFrame =
    ivfpqTopK(embeddings, NProbe)

  private[graft] def ivfpqTopK(embeddings: DataFrame, nprobe: Int,
      byResidual: Boolean = true): DataFrame = {
    val qv = PqOp.unitQuantized(embeddings).localCheckpoint()
    val cents = trainCoarse(qv)
    val queries = KMeansOp.collectCents(qv.filter(col("vec_id") < PqOp.NQ).orderBy("vec_id"))
    if (cents.isEmpty || queries.isEmpty)
      return PqOp.emptyResult(embeddings.sparkSession, "dist_r")
    val enc =
      if (byResidual) residualized(qv, cents)
      else KMeansOp.assign(qv, cents).withColumnRenamed("cell", "gcell")
    val books = PqOp.trainSubs(enc)
    if (books.exists(_.isEmpty))
      return PqOp.emptyResult(embeddings.sparkSession, "dist_r")
    val codes = PqOp.encode(enc, books)
      .select(col("vec_id") +:
        (0 until PqOp.M).map(m => col(s"code$m")) :+
        col("gcell").as("cell"): _*)
    val probes = probeCells(queries, cents, nprobe)
    val scored =
      if (byResidual) scoreProbedResidual(codes, queries, books, probes, cents)
      else scoreProbedRaw(codes, queries, books, probes)
    PqOp.adcRank(scored)
  }

  // ------------------------------------------------------------------
  // q198: IVF-PQ recall audit.

  /** q198: recall@[[PqOp.TopK]] of the residual IVF-PQ serving read
    * (q188) against the exact-cosine truth for the same [[PqOp.NQ]]
    * queries — the accept/reject number for the compressed+pruned
    * layout, completing the audit ladder (q129 LSH, q183 PQ, THIS the
    * combined index). The residual-vs-raw comparison itself is
    * spec-level (IvfPqSpec proves residual recall ≥ raw on the planted
    * fixture); the gated number tracks the shipping variant.
    *
    * Scale notes: the truth arm is q27's shape (broadcast queries,
    * map-side bounded-heap top-k); the IVF-PQ arm is the persisted
    * pruned serving read; the join and rollup run over NQ·TopK rows. */
  def ivfpqRecall(s: SparkSession, dir: String): DataFrame = {
    val truth = PqOp.exactTruthTopK(Tables.embeddings(s, dir))
    val ivf = ivfpqTopK(s, dir)
      .select(col("query_id"), col("neighbor_id"), lit(1L).as("hit_ivfpq"))
    truth.join(ivf, Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_truth"),
        sum(coalesce(col("hit_ivfpq"), lit(0L))).as("hits_ivfpq"))
      .orderBy("query_id")
  }

  // ------------------------------------------------------------------
  // Oracle: coarse chain + residual frame + q111's PQ chains, composed.

  /** Coarse-quantizer CTEs over the shared `qv` (unit-quantized):
    * [[KMeansOp.lloydCtes]] stemmed `g` from the md5-scrambled seed
    * `gc0` — final centroids `gc<Rounds>`, final assignment `gaf`
    * (vec_id, q, cell) — and the per-query probe set `gprobed`. */
  private def coarseCtes: String = {
    // the corpus-scaled seed count, re-derived from the same COUNT(*)
    val nlistSql = KMeansOp.scaledNListSql("(SELECT COUNT(*) FROM qv)", MinNList)
    val seed =
      s"""SELECT CAST(vec_id AS BIGINT) AS cell, q AS c FROM (
         |  SELECT vec_id, q, ROW_NUMBER() OVER (
         |      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS srn FROM qv)
         |  WHERE srn <= $nlistSql""".stripMargin
    val cR = KMeansOp.centsCte("g")
    s"""${KMeansOp.lloydCtes("g", seed, "qv", Dim, "qv")},
       |gpr AS (SELECT qv.vec_id AS query_id, $cR.cell,
       |    ROW_NUMBER() OVER (PARTITION BY qv.vec_id ORDER BY
       |      ${KMeansOp.dist2Sql(Dim, "qv.q", cR)}, $cR.cell) AS cr
       |  FROM qv CROSS JOIN $cR WHERE qv.vec_id < ${PqOp.NQ}),
       |gprobed AS (SELECT query_id, cell FROM gpr WHERE cr <= $NProbe)""".stripMargin
  }

  /** The residual-scored candidate CTEs: `rqv` (floored residual per
    * corpus vector, MATERIALIZED — the M subspace chains each reference
    * it and DuckDB inlines plain CTEs per reference), q111's PQ chains
    * pointed at rqv, `qres` (the query's floored residual per PROBED
    * cell), `adcr` ((query, cand) residual-ADC distances, candidates
    * joined through their own cell). */
  private def residualAdcCtes: String = {
    val cR = KMeansOp.centsCte("g")
    s"""rqv AS MATERIALIZED (SELECT gaf.vec_id, gaf.cell AS gcell,
       |    list(floor(gaf.q[t.i] - cg.c[t.i]) ORDER BY t.i) AS q
       |  FROM gaf JOIN $cR cg ON cg.cell = gaf.cell
       |  CROSS JOIN range(1, $Dim+1) t(i)
       |  GROUP BY gaf.vec_id, gaf.cell),
       |${PqOp.pqChainCtes("rqv")},
       |qs AS (SELECT vec_id AS query_id, q FROM qv WHERE vec_id < ${PqOp.NQ}),
       |qres AS (SELECT gp.query_id, gp.cell,
       |    list(floor(qs.q[t.i] - cg.c[t.i]) ORDER BY t.i) AS qr
       |  FROM gprobed gp JOIN qs ON qs.query_id = gp.query_id
       |  JOIN $cR cg ON cg.cell = gp.cell
       |  CROSS JOIN range(1, $Dim+1) t(i)
       |  GROUP BY gp.query_id, gp.cell),
       |adcr AS (SELECT qres.query_id, enc.vec_id AS neighbor_id,
       |    ${PqOp.adcTermsSql("qres.qr")} AS dist
       |  FROM qres JOIN rqv ON rqv.gcell = qres.cell
       |  JOIN enc ON enc.vec_id = rqv.vec_id ${PqOp.cfJoinsSql}
       |  WHERE qres.query_id <> enc.vec_id)""".stripMargin
  }

  /** q188 oracle: the coarse chain, the residual PQ chains, and the
    * per-cell residual ADC distances, then the same top-k ranking. */
  def ivfpqOracleSql: String =
    s"""WITH ${PqOp.qvCte},
       |$coarseCtes,
       |$residualAdcCtes
       |SELECT query_id, neighbor_id, CAST(rn AS BIGINT) AS rank,
       |  ROUND(dist / ${KMeansOp.ScaleQ * KMeansOp.ScaleQ}, 9) AS dist_r
       |FROM (SELECT query_id, neighbor_id, dist,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY dist, neighbor_id) AS rn
       |  FROM adcr)
       |WHERE rn <= ${PqOp.TopK} ORDER BY query_id, rank""".stripMargin

  /** q198 oracle: q188's chain top-k'd, left-joined onto the exact
    * truth (the q183 rollup shape). */
  def ivfpqRecallOracleSql: String =
    s"""WITH ${PqOp.qvCte},
       |$coarseCtes,
       |$residualAdcCtes,
       |ivt AS (SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY dist, neighbor_id) AS rn
       |    FROM adcr) WHERE rn <= ${PqOp.TopK}),
       |${PqOp.exactTruthCtes}
       |SELECT bt.query_id, CAST(COUNT(*) AS BIGINT) AS n_truth,
       |  CAST(SUM(CASE WHEN ivt.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits_ivfpq
       |FROM bt
       |LEFT JOIN ivt ON bt.query_id = ivt.query_id AND bt.neighbor_id = ivt.neighbor_id
       |GROUP BY bt.query_id ORDER BY bt.query_id""".stripMargin
}
