package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.VectorOps._

/** SemDeDup-style semantic deduplication (Abbas et al. 2023): partition
  * the embedding space into K centroid cells, then near-dedup ONLY
  * within each cell — the trick that turns the reference's global
  * cosine-0.97 scan (deduplicate_from_qdrant.py:160-186) into bounded
  * per-cell work. Centroids here are the first K corpus vectors
  * (deterministic, reproducible by any engine from the table itself —
  * no baked constants needed in the oracle).
  *
  * Scale notes: the centroid set is K rows (~KB) collected once and
  * baked into the plan as literals, so assignment is a narrow
  * codegen'd projection over the corpus — no join, no shuffle. The
  * pair stage shuffles once on cluster_id and does pairwise work only
  * inside a cell; with K sized so cells are ~√n the total pair volume
  * is n·(n/K), the SemDeDup contract. At 100 TB you raise K on trained
  * k-means centroids ([[semDedupTrained]], q104) so cells stay bounded;
  * the assignment stage is unchanged.
  */
object SemDedup {

  val K = 8
  val Tau = 0.97

  /** q59: vec_id → (cluster_id, canonical_id, n_neighbors, is_dup).
    * canonical_id = min vec_id over the vector's ≥τ intra-cluster
    * neighborhood (incl. itself) — the q26 greedy-min rule restricted
    * to the vector's cell. */
  def semDedup(s: SparkSession, dir: String): DataFrame = semDedup(Tables.embeddings(s, dir))

  def semDedup(embeddings: DataFrame): DataFrame = {
    val v = Dedup.normalized(embeddings)
    // K×64 doubles — driver-side once, literal in the plan thereafter
    val cents: IndexedSeq[(Long, Seq[Double], Double)] = v.filter(col("vec_id") < K)
      .select(col("vec_id"), col("e"), col("nrm"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1), r.getDouble(2)))
      .sortBy(_._1)
      .toIndexedSeq
    // zero cells (empty corpus): a zero-element array(...) literal is
    // NullType and fails analysis — emit the typed degenerate column
    // and let the shared pair stage run (on no rows) as usual
    val assigned = if (cents.isEmpty)
      v.select(col("vec_id"), col("e"), col("nrm"),
        lit(null).cast("long").as("cluster_id"))
    else {
      // sim to each centroid, in centroid-id order; argmax = first max
      // index (ties -> lowest centroid id, same rule as the oracle's
      // ORDER BY sim DESC, cid). The cluster id is the seeding vector's
      // ACTUAL vec_id — the oracle keys cells the same way — not its
      // array position, so sparse/shifted vec_id spaces stay in sync.
      val simArr = array(cents.map { case (_, ce, cn) =>
        dot(col("e"), array(ce.map(lit): _*)) / (col("nrm") * lit(cn))
      }: _*)
      val centIds = array(cents.map { case (id, _, _) => lit(id) }: _*)
      v.select(col("vec_id"), col("e"), col("nrm"),
        element_at(centIds, array_position(simArr, array_max(simArr)).cast("int"))
          .as("cluster_id"))
    }
    dedupWithinCells(assigned, Tau)
  }

  /** The within-cell near-dedup stage shared by q59 and q104: pair join
    * on cluster_id (a_id < b_id, cosine ≥ τ), neighborhood min/count,
    * greedy-min canonical. `assigned` must carry
    * (vec_id, e, nrm, cluster_id). */
  private def dedupWithinCells(assignedIn: DataFrame, tau: Double): DataFrame = {
    val assigned = assignedIn
      .localCheckpoint() // reused by both pair-join sides + the final join
    val a = assigned.select(col("cluster_id"), col("vec_id").as("a_id"),
      col("e").as("ea"), col("nrm").as("na"))
    val b = assigned.select(col("cluster_id"), col("vec_id").as("b_id"),
      col("e").as("eb"), col("nrm").as("nb"))
    val pairs = a.join(b, Seq("cluster_id"))
      .filter(col("a_id") < col("b_id"))
      .filter(cosinePre(col("ea"), col("eb"), col("na"), col("nb")) >= tau)
      .select(col("a_id"), col("b_id"))
    val nbrs = pairs.select(col("a_id").as("vec_id"), col("b_id").as("nbr"))
      .unionByName(pairs.select(col("b_id").as("vec_id"), col("a_id").as("nbr")))
      .groupBy(col("vec_id"))
      .agg(min(col("nbr")).as("min_nbr"), count(lit(1)).as("n_neighbors"))
    assigned.join(nbrs, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster_id"),
        least(col("vec_id"), coalesce(col("min_nbr"), col("vec_id"))).as("canonical_id"),
        coalesce(col("n_neighbors"), lit(0L)).as("n_neighbors"))
      .withColumn("is_dup",
        when(col("canonical_id") =!= col("vec_id"), 1L).otherwise(0L))
      .orderBy("vec_id")
  }

  /** Gated K for q104 — small enough that every test SF (20 vectors at
    * sf0.001) still seeds it; the API takes any k. */
  val TrainedK = 12

  /** q104: SemDeDup on TRAINED k-means cells, configurable K — the scale
    * path for q59's fixed first-K-vectors geometry. Cells come from the
    * shared [[KMeansOp.trainCents]] Lloyd loop (same seed/rounds/exact
    * integer arithmetic as q63/q65, so the oracle replays it as the same
    * CTE chain), assignment picks the literal or broadcast-kernel path by
    * k ([[KMeansOp.assignAuto]]), and the within-cell stage is q59's.
    *
    * Semantics note: cosines here are computed over the Lloyd loop's
    * 10⁻⁶-quantized vectors (scaling cancels in cosine, so this differs
    * from raw-float cosine only by the quantization's ~10⁻⁶ noise) —
    * that keeps one corpus frame flowing through both assignment and
    * pair stages with no self-join back to the raw table, and keeps
    * every number bit-reproducible in any engine.
    *
    * Scale: trained centroids track the data distribution, so cell
    * population concentrates near n/k instead of whatever the first K
    * rows happened to be (SemDedupSpec shows the skewed-fixture gap);
    * raising k caps the O(Σ cellᵢ²) pair volume — k ~ √n keeps it ~n³ᐟ².
    * Mirrors deduplicate_from_qdrant.py:160-186 at scale. */
  def semDedupTrained(s: SparkSession, dir: String): DataFrame =
    semDedupTrained(Tables.embeddings(s, dir), TrainedK)

  def semDedupTrained(embeddings: DataFrame, k: Int, tau: Double = Tau): DataFrame = {
    val (qv, cents) = KMeansOp.trainCents(embeddings, k)
    val assigned = KMeansOp.assignAuto(qv, cents)
      // no trained cells (no vec_id < k seeds) assigns every row a NULL
      // cell; the oracle's empty-seed CTE chain emits zero rows, so drop
      // unassignable rows rather than emit NULL-cluster singletons
      .where(col("cell").isNotNull)
      .withColumn("nrm", sqrt(dot(col("q"), col("q"))))
      .select(col("vec_id"), col("q").as("e"), col("nrm"),
        col("cell").as("cluster_id"))
    dedupWithinCells(assigned, tau)
  }

  /** q59 oracle: same centroid rule (vec_id < K) recomputed by DuckDB
    * from the table — argmax tie-break via ORDER BY sim DESC, cid. */
  def semDedupOracleSql: String =
    s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings WHERE embedding IS NOT NULL),
       |n AS (SELECT vec_id, e,
       |  sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |    list_transform(range(1, len(e)+1), i -> e[i]*e[i])), (x,y) -> x+y)) AS nrm FROM v),
       |c AS (SELECT vec_id AS cid, e AS ce, nrm AS cn FROM n WHERE vec_id < $K),
       |sims AS (SELECT n.vec_id, c.cid,
       |  list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |    list_transform(range(1, len(n.e)+1), i -> n.e[i]*c.ce[i])), (x,y) -> x+y)
       |   / (n.nrm * c.cn) AS sim
       |  FROM n CROSS JOIN c),
       |asg AS (SELECT vec_id, CAST(cid AS BIGINT) AS cluster_id FROM (
       |    SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id
       |      ORDER BY sim DESC, cid) AS rn FROM sims) WHERE rn = 1),
       |m AS (SELECT n.vec_id, asg.cluster_id, n.e, n.nrm
       |  FROM n JOIN asg ON n.vec_id = asg.vec_id),
       |p AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id FROM m a JOIN m b
       |  ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
       |  WHERE list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(range(1, len(a.e)+1), i -> a.e[i]*b.e[i])), (x,y) -> x+y)
       |     / (a.nrm * b.nrm) >= $Tau),
       |nb AS (SELECT a_id AS vec_id, b_id AS nbr FROM p
       |       UNION ALL SELECT b_id, a_id FROM p),
       |ag AS (SELECT vec_id, MIN(nbr) AS min_nbr, COUNT(*) AS n_neighbors FROM nb GROUP BY vec_id)
       |SELECT m.vec_id, m.cluster_id,
       |  LEAST(m.vec_id, COALESCE(ag.min_nbr, m.vec_id)) AS canonical_id,
       |  COALESCE(ag.n_neighbors, 0) AS n_neighbors,
       |  CAST(CASE WHEN LEAST(m.vec_id, COALESCE(ag.min_nbr, m.vec_id)) <> m.vec_id
       |    THEN 1 ELSE 0 END AS BIGINT) AS is_dup
       |FROM m LEFT JOIN ag USING (vec_id) ORDER BY m.vec_id""".stripMargin

  /** q104 oracle: the shared k-means CTE chain at [[TrainedK]] (same
    * replay as the q63/q65 oracles) feeding q59's pair/neighbor SQL,
    * with cosines over the quantized `q` vectors — exactly the Spark
    * side's arithmetic. */
  def semDedupTrainedOracleSql: String = {
    val lr = KMeansOp.lr(KMeansOp.Dim, _: String)
    s"""WITH ${KMeansOp.kmeansCtes(TrainedK)},
       |m AS (SELECT vec_id, CAST(cell AS BIGINT) AS cluster_id, q AS e,
       |  sqrt(${lr("q[i]*q[i]")}) AS nrm FROM af),
       |p AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id FROM m a JOIN m b
       |  ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
       |  WHERE ${lr("a.e[i]*b.e[i]")} / (a.nrm * b.nrm) >= $Tau),
       |nb AS (SELECT a_id AS vec_id, b_id AS nbr FROM p
       |       UNION ALL SELECT b_id, a_id FROM p),
       |ag AS (SELECT vec_id, MIN(nbr) AS min_nbr, COUNT(*) AS n_neighbors FROM nb GROUP BY vec_id)
       |SELECT m.vec_id, m.cluster_id,
       |  LEAST(m.vec_id, COALESCE(ag.min_nbr, m.vec_id)) AS canonical_id,
       |  COALESCE(ag.n_neighbors, 0) AS n_neighbors,
       |  CAST(CASE WHEN LEAST(m.vec_id, COALESCE(ag.min_nbr, m.vec_id)) <> m.vec_id
       |    THEN 1 ELSE 0 END AS BIGINT) AS is_dup
       |FROM m LEFT JOIN ag USING (vec_id) ORDER BY m.vec_id""".stripMargin
  }
}
