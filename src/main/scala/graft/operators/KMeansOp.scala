package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.VectorOps.dot

/** Deterministic distributed k-means (Lloyd's algorithm, fixed rounds) —
  * the one trainer every k-means in graft runs: q63/q181/q191 clusters,
  * the q65/q72/q157 IVF coarse quantizer, q104's SemDeDup cells, and
  * the coarse and subspace quantizers of [[PqOp]] and [[IvfPq]]. The
  * round ([[lloyd]]: assign → [[recenter]] × [[Rounds]]) and its DuckDB
  * twin ([[lloydCtes]]) live here once; each caller owns only its seed
  * rule, and the full train loop (final assign included) is
  * value-checked against DuckDB running the same unrolled computation.
  *
  * Engine-exact by construction: vectors are quantized to INTEGRAL
  * doubles (round(x·10⁶) — float-origin values are exact in double, the
  * product is the same double in any engine, and both engines round
  * half away from zero), so per-dimension sums are exact integer
  * arithmetic — order-independent across 1000 executors and equal to
  * any other engine's sum. Centroid means divide two exactly-represented
  * numbers, and every distance is qq − 2·q·c + cc with a fixed
  * left-to-right fold, so the doubles agree bitwise all the way down.
  *
  * Scale notes: each round is ONE map-side-combined aggregate over the
  * corpus (width + 1 partial cells per partition: the sums + count)
  * producing K rows collected to the driver; assignment is a narrow
  * projection with the K×width centroid matrix baked in as literals —
  * no join, no shuffle of the corpus, the textbook Spark Lloyd layout.
  * Empty cells keep their previous centroid; ties go to the lowest cell.
  */
object KMeansOp {

  val K = 8
  val Rounds = 2
  val Dim = 64
  val ScaleQ = 1000000.0

  /** Corpus-scaled IVF cell count — the q40-q42 sign-LSH lesson applied
    * to the index family's coarse quantizer: a FIXED nlist means each
    * probe reads nprobe/nlist of the corpus REGARDLESS of corpus size,
    * so the serving read grows linearly with data (measured: q188
    * 10.7× at 100× data under nlist=16). The ladder doubles the cell
    * count until the expected rows-per-cell drops to
    * [[TargetCellRows]]: nlist = the smallest power-of-2 multiple of
    * `minNList` with n ≤ TargetCellRows·nlist, capped at [[MaxNList]]
    * (driver-side probe ranking and the recenter collect stay bounded
    * at nlist·Dim doubles). An INTEGER threshold ladder — no log/libm —
    * so the DuckDB oracle re-derives the IDENTICAL count from the
    * IDENTICAL COUNT(*) ([[scaledNListSql]]), which makes the sizing
    * itself gate-checked. FAISS practice sizes nlist between √n and
    * n/256; a fixed rows-per-cell budget keeps the per-probe candidate
    * read FLAT as data grows, which is the property the serving gate
    * measures. Recall shifting with nlist (finer cells, fixed nprobe)
    * is the documented IVF trade — q129/q198 audit it. */
  val TargetCellRows = 500L
  val MaxNList = 4096

  def scaledNList(n: Long, minNList: Int = K): Int = {
    // power-of-two so the doubling ladder lands exactly on MaxNList —
    // a non-divisor min would let the Scala loop overshoot the cap the
    // SQL twin's ELSE arm pins
    require(minNList > 0 && minNList <= MaxNList
        && Integer.bitCount(minNList) == 1,
      s"minNList $minNList must be a power of two in (0, $MaxNList]")
    var k = minNList
    while (k < MaxNList && n > TargetCellRows * k) k *= 2
    k
  }

  /** Artifact-fingerprint tag for the ladder: a persisted index keyed
    * on these constants can never serve a layout built under different
    * sizing (the derived nlist itself is a pure function of the corpus
    * count, which the data fingerprint already keys). */
  def nlistLadderTag(minNList: Int = K): String =
    s"nlist=scaled(min=$minNList,t=$TargetCellRows,max=$MaxNList)"
  def nlistLadderTag: String = nlistLadderTag(K)

  /** FAISS-style training-set cap (max_points_per_centroid): Lloyd
    * rounds at a corpus-scaled k run over a deterministic md5-strided
    * SAMPLE of ≤ ~TrainPointsPerCell·k vectors — training cost stays
    * ~flat per cell as the corpus grows, while the FINAL assignment
    * still covers every vector. Round-9 lesson: unsampled inline
    * training made q65 grow 16× at 100× data. */
  val TrainPointsPerCell = 64L

  /** Every `stride`-th vector by md5 order trains; 1 = no sampling. */
  def trainStride(n: Long, k: Int): Long =
    math.max(1L, n / (TrainPointsPerCell * k))

  /** SQL twin of [[trainStride]] (DuckDB `//` = integer division). */
  def trainStrideSql(nExpr: String, kSql: String): String =
    s"GREATEST(1, ($nExpr) // ($TrainPointsPerCell * ($kSql)))"

  /** SQL twin of [[scaledNList]]: the same integer CASE ladder applied
    * to `nExpr` (typically a COUNT(*) scalar subquery over the same
    * quantized frame the Spark side counts). */
  def scaledNListSql(nExpr: String, minNList: Int = K): String = {
    val arms = Iterator.iterate(minNList.toLong)(_ * 2)
      .takeWhile(_ < MaxNList)
      .map(k => s"WHEN $nExpr <= ${TargetCellRows * k} THEN $k")
      .mkString(" ")
    if (arms.isEmpty) MaxNList.toString
    else s"(CASE $arms ELSE $MaxNList END)"
  }

  /** vec_id + quantized integral-double vector. */
  private[graft] def quantized(embeddings: DataFrame): DataFrame =
    embeddings
      // NULL embeddings drop at the scan (same policy as Dedup.normalized)
      .where(col("embedding").isNotNull)
      .select(col("vec_id"),
        transform(col("embedding"), x => round(x.cast("double") * ScaleQ)).as("q"))

  /** Squared-distance column from vector column `q` (self-dot `qq`) to
    * one centroid: qq − 2·q·c + cc. */
  private def dist2(q: Column, qq: Column, c: Seq[Double]): Column = {
    val cLit = array(c.map(lit): _*)
    val cc = c.foldLeft(0.0)((acc, x) => acc + x * x) // same fold as list_reduce
    qq - lit(2.0) * dot(q, cLit) + lit(cc)
  }

  /** Squared distances from vector column `q` to every centroid, in
    * `cents` order. */
  private[graft] def dists(q: Column, cents: Seq[(Long, Seq[Double])]): Column = {
    val qq = dot(q, q)
    array(cents.map { case (_, c) => dist2(q, qq, c) }: _*)
  }

  /** The argmin cell of a [[dists]] array — the cell id is the seeding
    * vector's ACTUAL vec_id (the oracle keys cells the same way), not
    * its position in the collected array, so sparse/shifted vec_id
    * spaces stay in sync. Ties → first position = lowest cell id (cents
    * is vec_id-sorted), matching the oracle's ORDER BY dist2, cell. */
  private[graft] def argminCell(ds: Column, cents: Seq[(Long, Seq[Double])]): Column = {
    val ids = array(cents.map { case (id, _) => lit(id) }: _*)
    element_at(ids, array_position(ds, array_min(ds)).cast("int"))
  }

  /** The argmin cell of vector column `q` among `cents`. */
  private[graft] def cellCol(q: Column, cents: Seq[(Long, Seq[Double])]): Column =
    argminCell(dists(q, cents), cents)

  /** Adds the argmin `cell` column of `q` for the given (cellId,
    * centroid) pairs. */
  private[graft] def assign(qv: DataFrame, cents: Seq[(Long, Seq[Double])]): DataFrame = {
    // zero centroids (empty corpus, or every vec_id ≥ k): there is no
    // cell to assign — a zero-element array(...) literal is NullType and
    // fails analysis, so emit the typed degenerate instead of a plan
    // that can't resolve
    if (cents.isEmpty)
      return qv.withColumn("cell", lit(null).cast("long"))
    qv.withColumn("cell", cellCol(col("q"), cents))
  }

  /** Above this K, [[assignAuto]] switches from the literal-matrix
    * assignment to the broadcast path: a K×64 literal matrix per
    * expression is ideal small-K codegen but blows up plan size and
    * generated code as K grows toward a real IVF's 2¹⁶. */
  val LiteralAssignMaxK = 32

  /** Large-K assignment twin of [[assign]] (bit-identical, spec-checked):
    * centroids ride in ONE broadcast row (packed array of
    * struct(cell, c, cc)) instead of plan literals, and the argmin runs
    * in the native [[org.apache.spark.sql.graftbridge.NearestCellDist2]]
    * kernel. Plan size is O(1) in K, assignment stays shuffle-free
    * (BroadcastNestedLoopJoin against a single row) — an
    * argmin-by-groupBy formulation would instead re-shuffle the whole
    * corpus by vec_id. */
  private[graft] def assignBroadcast(qv: DataFrame,
      cents: Seq[(Long, Seq[Double])]): DataFrame =
    assignBroadcastDf(qv, centsToDf(qv.sparkSession, cents))

  /** Centroids as a (cell, c) table — the form a PERSISTED coarse
    * quantizer (e.g. the q72 IVF index's cells artifact) serves. */
  private[graft] def centsToDf(spark: SparkSession,
      cents: Seq[(Long, Seq[Double])]): DataFrame = {
    import spark.implicits._
    cents.toDF("cell", "c")
  }

  /** [[assignBroadcast]] from a centroid TABLE: packs (cell, c) rows into
    * one sorted array row in-plan (sort_array orders by the leading
    * struct field = cell id, preserving the literal path's lowest-cell
    * tie-break), broadcasts it, and projects the native argmin. The cc
    * self-dot is folded once per centroid here, not per corpus row. */
  private[graft] def assignBroadcastDf(qv: DataFrame, cents: DataFrame): DataFrame = {
    import org.apache.spark.sql.graftbridge.{ColumnBridge, NearestCellDist2}
    val packed = cents
      .select(struct(col("cell").cast("long").as("cell"),
        col("c"), dot(col("c"), col("c")).as("cc")).as("entry"))
      .agg(sort_array(collect_list(col("entry"))).as("cells"))
    qv.crossJoin(broadcast(packed))
      .withColumn("cell", ColumnBridge.column(NearestCellDist2(
        ColumnBridge.expression(col("q")), ColumnBridge.expression(col("cells")))))
      .drop("cells")
  }

  /** Literal-matrix assignment for small K, broadcast kernel beyond
    * [[LiteralAssignMaxK]] — same results either way (spec-checked). */
  private[graft] def assignAuto(qv: DataFrame,
      cents: Seq[(Long, Seq[Double])]): DataFrame =
    if (cents.size <= LiteralAssignMaxK) assign(qv, cents)
    else assignBroadcast(qv, cents)

  /** (id, vector) pairs off the first two columns of `df`, collected —
    * centroids, seeds and query vectors alike. */
  private[graft] def collectCents(df: DataFrame): Seq[(Long, Seq[Double])] =
    df.collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toSeq).toSeq

  /** Lloyd's centroid update: the mean (a cell's member count and
    * per-dimension `sums`) where a cell has members; an empty cell
    * keeps its old centroid. */
  private[graft] def meanOrKeep(old: Seq[(Long, Seq[Double])],
      sums: Long => Option[(Double, Seq[Double])]): Seq[(Long, Seq[Double])] =
    old.map { case (id, c) =>
      sums(id) match {
        case Some((n, s)) => id -> s.map(_ / n)
        case None => id -> c
      }
    }

  /** One Lloyd recenter over `assigned` (q, cell): per-cell
    * per-dimension exact sums of integral doubles, as wide as the given
    * centroids ([[Dim]] for a coarse quantizer, [[PqOp.SubDim]] per PQ
    * subspace). */
  private[graft] def recenter(assigned: DataFrame,
      old: Seq[(Long, Seq[Double])]): Seq[(Long, Seq[Double])] = {
    val width = old.head._2.size
    val aggs = count(lit(1)).cast("double").as("n") +:
      (1 to width).map(i => sum(element_at(col("q"), i)).as(s"s$i"))
    val rows = assigned.groupBy(col("cell")).agg(aggs.head, aggs.tail: _*)
      .collect()
      .map(r => r.getLong(0) ->
        (r.getDouble(1), (1 to width).map(i => r.getDouble(1 + i))))
      .toMap
    meanOrKeep(old, rows.get)
  }

  /** The Lloyd loop every trainer shares: [[Rounds]] rounds of
    * assign + [[recenter]] over `train` (vec_id, q) from `seeds`. Zero
    * seeds (empty corpus, or no row matches the seed rule) train
    * nothing — a round would feed recenter an all-NULL cell grouping.
    * Assignment picks the literal or broadcast kernel by cell count
    * ([[assignAuto]]). */
  private[graft] def lloyd(train: DataFrame,
      seeds: Seq[(Long, Seq[Double])]): Seq[(Long, Seq[Double])] =
    if (seeds.isEmpty) seeds
    else (1 to Rounds).foldLeft(seeds)((c, _) => recenter(assignAuto(train, c), c))

  /** q63: k-means train + final assignment — vec_id, cell, cell_size. */
  def kmeans(s: SparkSession, dir: String): DataFrame = kmeans(Tables.embeddings(s, dir))

  /** The deterministic train loop: seed with the first `k` vec_ids,
    * then [[lloyd]]. Returns (reusable quantized frame, final
    * (cellId, centroid) pairs) — shared by q63, the oracle-gated IVF
    * path, and trained-centroid SemDeDup (q104) so they can never drift
    * on seed/rounds/arithmetic. Assignment picks the literal or
    * broadcast kernel by `k` ([[assignAuto]]); the recenter collect is
    * k rows of 64 doubles — ~32 MB even at a 2¹⁶-cell IVF, bounded by
    * construction. */
  private[graft] def trainCents(embeddings: DataFrame,
      k: Int = K): (DataFrame, Seq[(Long, Seq[Double])]) = {
    val qv = quantized(embeddings).localCheckpoint() // reused every round
    (qv, lloyd(qv, collectCents(qv.filter(col("vec_id") < k).orderBy("vec_id"))))
  }

  /** [[trainCents]] with the cell count CORPUS-SCALED via
    * [[scaledNList]] — the IVF index family's trainer (q65/q72/q157):
    * the count runs on the already-checkpointed frame, so it costs one
    * cached-scan, and the oracle re-derives the identical k from the
    * identical COUNT(*) over its qv CTE. q63's CLUSTERING semantics
    * keep the fixed user-k [[trainCents]]. */
  private[graft] def trainCentsScaled(
      embeddings: DataFrame): (DataFrame, Seq[(Long, Seq[Double])]) = {
    val qv = quantized(embeddings).localCheckpoint()
    val n = qv.count()
    val k = scaledNList(n)
    val stride = trainStride(n, k)
    // md5-strided training sample (unbiased w.r.t. id layout); seeds =
    // the k lowest vec_ids IN THE SAMPLE (rank-based — `vec_id < k`
    // would find no seeds once the sample thins), both re-derived by
    // the oracle from the same COUNT
    val qvt =
      if (stride == 1L) qv
      else qv.filter(
        TextAnalysis.md5Long(col("vec_id").cast("string")) % stride === 0L)
        .localCheckpoint()
    (qv, lloyd(qvt, collectCents(qvt.orderBy("vec_id").limit(k))))
  }

  def kmeans(embeddings: DataFrame): DataFrame = {
    val (qv, cents) = trainCents(embeddings)
    // the final assignment feeds BOTH the sizes aggregate and the join's
    // left side — materialized once (16 bytes/row) so the K×64 distance
    // argmin runs one corpus pass, not two (round-13, guide §2.4)
    val fin = assignAuto(qv, cents).select(col("vec_id"), col("cell"))
      .localCheckpoint()
    val sizes = fin.groupBy(col("cell")).agg(count(lit(1)).as("cell_size"))
    fin.join(sizes, Seq("cell"))
      .select(col("vec_id"), col("cell"), col("cell_size"))
      .orderBy("vec_id")
  }

  // ------------------------------------------------------------------
  // Oracle: the same loop unrolled as DuckDB CTEs — quantize, assign
  // (argmin via ROW_NUMBER), recenter (exact integral sums, empty cells
  // keep the previous centroid via LEFT JOIN + COALESCE), final assign.

  /** Σ over i = 1..`width` of `expr`, folded left from 0 — the fixed
    * fold order of the Spark side's `dot`. */
  private[graft] def lr(width: Int, expr: String): String =
    s"list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(1, $width+1), i -> $expr)), (x,y) -> x+y)"

  /** Squared distance between list `q` and centroid table `cin`'s `c`,
    * both `width` wide: qq − 2·q·c + cc, the Spark side's fold. */
  def dist2Sql(width: Int, q: String, cin: String): String =
    s"${lr(width, s"$q[i]*$q[i]")} - 2.0 * ${lr(width, s"$q[i]*$cin.c[i]")} + ${lr(width, s"$cin.c[i]*$cin.c[i]")}"

  /** [[quantized]] as CTE `name`, its vectors restricted by `pred`. */
  private def quantizedCte(name: String, pred: String = ""): String = {
    val predSql = if (pred.isEmpty) "" else s" AND ($pred)"
    s"""$name AS (SELECT vec_id,
       |  list_transform(embedding, x -> round(CAST(x AS DOUBLE) * $ScaleQ)) AS q
       | FROM embeddings WHERE embedding IS NOT NULL$predSql)""".stripMargin
  }

  /** CTE `aout`: each (vec_id, q) row of `src` with its argmin cell
    * among centroid table `cin` — ties by lowest cell. */
  private def assignCte(width: Int, cin: String, aout: String, src: String): String =
    s"""$aout AS (SELECT vec_id, q, cell FROM (
       |  SELECT qv.vec_id, qv.q, $cin.cell,
       |    ROW_NUMBER() OVER (PARTITION BY qv.vec_id ORDER BY
       |      ${dist2Sql(width, "qv.q", cin)}, $cin.cell) AS rn
       |  FROM $src qv CROSS JOIN $cin) WHERE rn = 1)""".stripMargin

  /** CTEs `${cout}_m` (per-cell means of assignment `ain`) and `cout`
    * (the mean, or `cin`'s centroid for an empty cell). */
  private def recenterCte(width: Int, ain: String, cin: String, cout: String): String =
    s"""${cout}_m AS (SELECT cell, list(s ORDER BY dim) AS c FROM (
       |  SELECT cell, t.i AS dim, SUM(q[t.i]) / CAST(COUNT(*) AS DOUBLE) AS s
       |  FROM $ain CROSS JOIN range(1, $width+1) t(i) GROUP BY cell, t.i)
       | GROUP BY cell),
       |$cout AS (SELECT $cin.cell, COALESCE(${cout}_m.c, $cin.c) AS c
       |  FROM $cin LEFT JOIN ${cout}_m USING (cell))""".stripMargin

  /** Centroids after the last round of the chain stemmed `stem`. */
  private[graft] def centsCte(stem: String): String = s"${stem}c$Rounds"

  /** [[lloyd]]'s DuckDB twin: the seed CTE `${stem}c0` (`seed`: a
    * SELECT of (cell, c)), [[Rounds]] assign/recenter rounds over
    * `train` (`${stem}a<r>`, `${stem}c<r>`), and the final assignment
    * `${stem}af` of `finalSrc` to [[centsCte]]. The stem keeps names
    * unique where several chains share one WITH. */
  private[graft] def lloydCtes(stem: String, seed: String, train: String, width: Int,
      finalSrc: String): String = {
    val rounds = (1 to Rounds).map { r =>
      val (cin, cout) = (s"${stem}c${r - 1}", s"${stem}c$r")
      s"${assignCte(width, cin, s"${stem}a$r", train)},\n${recenterCte(width, s"${stem}a$r", cin, cout)}"
    }.mkString(",\n")
    s"""${stem}c0 AS ($seed),
       |$rounds,
       |${assignCte(width, centsCte(stem), s"${stem}af", finalSrc)}""".stripMargin
  }

  /** WITH-body prefix replaying [[trainCents]]: `qv` (quantized
    * vectors), `c0..c$Rounds` (centroids per round; `c$Rounds` is
    * final), `af` (final assignment: vec_id, q, cell). Shared by the
    * q63/q181/q191 oracles and the q104 trained-SemDeDup oracle. */
  def kmeansCtes: String = kmeansCtes(K)

  def kmeansCtes(k: Int): String = {
    val seed = s"SELECT CAST(vec_id AS BIGINT) AS cell, q AS c FROM qv WHERE vec_id < ($k)"
    s"${quantizedCte("qv")},\n${lloydCtes("", seed, "qv", Dim, "qv")}"
  }

  /** CTE chain for the CORPUS-SCALED, SAMPLE-TRAINED quantizer
    * ([[trainCentsScaled]]'s oracle twin): `qv` (all quantized vectors
    * under `basePred`), `qvt` (the md5-strided training sample), `c0`
    * (rank-based seeds — the k lowest vec_ids IN the sample), Lloyd
    * rounds over `qvt`, and the final assignment `af` over the FULL
    * `qv`. `includeAllAssign` appends `qva` (every quantized vector,
    * regardless of basePred) and `afa` (its assignment to the final
    * centroids) — the assign-without-retrain arm an index upsert
    * replays. k and the stride are both re-derived from the same
    * COUNT(*) the Spark side uses. */
  def kmeansScaledCtes(basePred: String, includeAllAssign: Boolean): String = {
    val kSql = scaledNListSql("(SELECT COUNT(*) FROM qv)")
    val sSql = trainStrideSql("(SELECT COUNT(*) FROM qv)", kSql)
    val seed =
      s"""SELECT CAST(vec_id AS BIGINT) AS cell, q AS c FROM (
         |  SELECT vec_id, q, ROW_NUMBER() OVER (ORDER BY vec_id) AS srn FROM qvt)
         |  WHERE srn <= ($kSql)""".stripMargin
    val allAssign =
      if (!includeAllAssign) ""
      else s",\n${quantizedCte("qva")},\n${assignCte(Dim, centsCte(""), "afa", "qva")}"
    s"""${quantizedCte("qv", basePred)},
       |qvt AS (SELECT vec_id, q FROM qv
       |  WHERE CAST(('0x' || substring(md5(CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT)
       |    % ($sSql) = 0),
       |${lloydCtes("", seed, "qvt", Dim, "qv")}$allAssign""".stripMargin
  }

  def kmeansOracleSql: String =
    s"""WITH $kmeansCtes,
       |sz AS (SELECT cell, COUNT(*) AS cell_size FROM af GROUP BY cell)
       |SELECT af.vec_id, CAST(af.cell AS BIGINT) AS cell, sz.cell_size
       |FROM af JOIN sz USING (cell) ORDER BY af.vec_id""".stripMargin

  /** q181: per-cell SIMPLIFIED silhouette — the cluster-quality audit
    * (Hruschka et al. 2004; sklearn's recipe for large n): per vector
    * a = distance to its own (nearest) centroid, b = distance to the
    * second-nearest centroid, s = (b − a) / b ∈ [0, 1] (a ≤ b by
    * construction since assignment IS the argmin, so the classic
    * negative arm cannot occur here); per cell the mean / min / max.
    * Cells whose members sit near a neighboring centroid score → 0 —
    * the readout that tells you whether q63's cells (and the q72 IVF /
    * q104 SemDeDup structures built on them) actually separate, or the
    * k is wrong. Full silhouette is O(n²) pairwise; the simplified form
    * is the standard distributed substitute — centroid-relative, one
    * pass, no pair joins.
    *
    * Engine-exact: distances are the SAME fixed-fold qq−2qc+cc chain as
    * q63 (bitwise-equal doubles in both engines), s is one fixed-order
    * IEEE expression over (a2, b2), then quantized to micro integers
    * (round(s·10⁶)) so per-cell SUMs are exact integer arithmetic —
    * order-independent across 1000 executors; one final IEEE division
    * closes the mean. GREATEST(·,0) guards the sqrt against the tiny
    * negative a float chain can leave where q ≈ c (same guard both
    * engines, so parity holds either way).
    *
    * Scale notes: train is q63's loop (shared [[trainCents]] — K rows
    * collected per round); scoring is a narrow projection with the K×64
    * centroid matrix as literals (no join, corpus never shuffles) into
    * a map-side-combined agg whose shuffle is K rows × partitions. */
  def silhouette(s: SparkSession, dir: String): DataFrame =
    silhouette(Tables.embeddings(s, dir))

  def silhouette(embeddings: DataFrame): DataFrame = {
    val (qv, cents) = trainCents(embeddings)
    if (cents.size < 2)
      // <2 centroids: "second-nearest" does not exist; the oracle's
      // rn=2 join is empty too
      return qv.select(lit(0L).as("cell"), lit(0L).as("n"),
        lit(0.0).as("mean_sil_r"), lit(0L).as("min_mic"),
        lit(0L).as("max_mic")).limit(0)
    val ds = dists(col("q"), cents)
    qv
      .withColumn("cell", argminCell(ds, cents))
      .withColumn("ds", array_sort(ds))
      .withColumn("a2", element_at(col("ds"), 1))
      .withColumn("b2", element_at(col("ds"), 2))
      .withColumn("sil",
        when(col("b2") > 0.0,
          (sqrt(greatest(col("b2"), lit(0.0))) - sqrt(greatest(col("a2"), lit(0.0))))
            / sqrt(greatest(col("b2"), lit(0.0))))
          .otherwise(lit(0.0)))
      .withColumn("mic", round(col("sil") * lit(1000000.0)).cast("long"))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n"), sum(col("mic")).as("sum_mic"),
        min(col("mic")).as("min_mic"), max(col("mic")).as("max_mic"))
      .select(col("cell"), col("n"),
        round(col("sum_mic").cast("double")
          / (col("n").cast("double") * lit(1000000.0)), 9).as("mean_sil_r"),
        col("min_mic"), col("max_mic"))
      .orderBy("cell")
  }

  /** q181 oracle: the shared train chain, per-vector (a2, b2) via the
    * rn=1/rn=2 window rows, the identical s/micro arithmetic. */
  def silhouetteOracleSql: String =
    s"""WITH $kmeansCtes,
       |dd AS (SELECT qv.vec_id, c$Rounds.cell, ${dist2Sql(Dim, "qv.q", s"c$Rounds")} AS d2
       |  FROM qv CROSS JOIN c$Rounds),
       |rk AS (SELECT vec_id, cell, d2,
       |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
       |  FROM dd),
       |sv AS (SELECT r1.vec_id, r1.cell, r1.d2 AS a2, r2.d2 AS b2
       |  FROM rk r1 JOIN rk r2 ON r1.vec_id = r2.vec_id AND r1.rn = 1 AND r2.rn = 2),
       |sl AS (SELECT cell,
       |    CASE WHEN b2 > 0 THEN
       |      (sqrt(GREATEST(b2, 0)) - sqrt(GREATEST(a2, 0))) / sqrt(GREATEST(b2, 0))
       |    ELSE 0.0 END AS sil
       |  FROM sv),
       |mm AS (SELECT cell, CAST(round(sil * 1000000.0) AS BIGINT) AS mic FROM sl)
       |SELECT CAST(cell AS BIGINT) AS cell, CAST(COUNT(*) AS BIGINT) AS n,
       |  ROUND(CAST(SUM(mic) AS DOUBLE) / (CAST(COUNT(*) AS DOUBLE) * 1000000.0), 9)
       |    AS mean_sil_r,
       |  MIN(mic) AS min_mic, MAX(mic) AS max_mic
       |FROM mm GROUP BY cell ORDER BY cell""".stripMargin
}
