package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.VectorOps._

/** Similarity search over embeddings frames (reference analog: the
  * dashboard's top-10 combined-vector Qdrant search, app.py:239).
  *
  * Scale notes: brute-force is the exactness baseline — the pair join
  * broadcasts the (small) query side against the full corpus, and top-k
  * runs as a bounded-heap aggregate (map-side partial, ≤ k rows per
  * partition per query into the shuffle). With thousands of queries you
  * flip to [[lshBucket]]-blocked scoring (q28) or the IVF index
  * ([[ivfTopKExact]], q65/q72) so each query only scores its candidate
  * cells. The k-NN self-join is the O(n²) exact variant kept for oracle
  * parity; its scale path is the same blocking (q41).
  */
object Similarity {

  /** Bounded-heap top-k aggregate column (score desc, id asc); see
    * [[org.apache.spark.sql.graftbridge.TopKSimId]]. `distinctIds`
    * dedupes ids INSIDE the heap — value-identical to a dropDuplicates
    * before the aggregate when duplicate ids always carry the same
    * score (pair-pure similarity), without the dedup exchange. */
  private[operators] def topKAgg(sim: org.apache.spark.sql.Column,
      id: org.apache.spark.sql.Column, k: Int,
      distinctIds: Boolean = false): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.graftbridge.{ColumnBridge, TopKSimId}
    ColumnBridge.column(TopKSimId(
      ColumnBridge.expression(sim), ColumnBridge.expression(id), k, distinctIds)
      .toAggregateExpression())
  }

  /** (group, id, sim) scored pairs → k best per group with dense 1-based
    * ranks. Map-side partial aggregation ships ≤ k pairs per (partition,
    * group) into the shuffle, vs the window-rank idiom's full pair sort. */
  private[operators] def explodeTopKPerGroup(scored: DataFrame, group: String,
      outId: String, k: Int, distinctIds: Boolean = false): DataFrame =
    explodeTopK(scored, group, outId, k, distinctIds)

  private def explodeTopK(scored: DataFrame, group: String, outId: String,
      k: Int, distinctIds: Boolean = false): DataFrame =
    scored.groupBy(col(group))
      .agg(topKAgg(col("sim"), col("__cand_id"), k, distinctIds).as("tk"))
      .select(col(group), posexplode(col("tk")))
      // rank as long: DuckDB ROW_NUMBER() is BIGINT and the driver's
      // comparator hashes pandas dtypes, so an int32 here is a gate FAIL
      // even when every value matches (the r01 q12 failure mode)
      .select(col(group), col("col.id").as(outId),
        (col("pos") + 1).cast("long").as("rank"),
        round(col("col.sim"), 9).as("sim_r"))

  /** Test hook: raw (g, sim, __cand_id) frame → top-k per g with raw sim
    * (no rounding), for property-testing TopKSimId against a model. */
  private[graft] def topKExplodedForTest(scored: DataFrame, k: Int,
      distinctIds: Boolean = false): DataFrame =
    scored.groupBy(col("g"))
      .agg(topKAgg(col("sim"), col("__cand_id"), k, distinctIds).as("tk"))
      .select(col("g"), posexplode(col("tk")))
      .select(col("g"), col("col.id").as("id"), (col("pos") + 1).as("rank"),
        col("col.sim").as("sim"))

  /** q27: exact top-k cosine neighbors for a small query set (vec_id <
    * 10), k=10. Query side broadcast; rank ties broken by neighbor id. */
  def bruteForceTopK(s: SparkSession, dir: String): DataFrame =
    bruteForceTopK(graft.Tables.embeddings(s, dir))

  def bruteForceTopK(embeddings: DataFrame): DataFrame = {
    val v = Dedup.normalized(embeddings)
    val q = v.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("e").as("eq"), col("nrm").as("nq"))
    val c = v.select(col("vec_id").as("__cand_id"), col("e").as("ec"), col("nrm").as("nc"))
    val scored = broadcast(q).join(c, col("query_id") =!= col("__cand_id"))
      .select(col("query_id"), col("__cand_id"),
        cosinePre(col("eq"), col("ec"), col("nq"), col("nc")).as("sim"))
    explodeTopK(scored, "query_id", "neighbor_id", 10)
      .orderBy("query_id", "rank")
  }

  /** Fixed random ±1 hyperplanes for sign-LSH over 64-dim embeddings.
    * 4 bits → 16 buckets: sized for the test corpus (~31 candidates per
    * bucket at n=500); at 100 TB you raise bits so buckets stay bounded
    * and add multiprobe for recall. Seeded so any engine reproduces the
    * same buckets. */
  val LshBits = 4
  val Dim = 64

  /** Fixed-seed ±1 hyperplane stack; the first `LshBits` rows are q28's
    * oracle constants, larger stacks extend the same stream. */
  def hyperplanesFor(bits: Int, dim: Int = Dim, seed: Long = 7L): Seq[Seq[Double]] = {
    val rng = new scala.util.Random(seed)
    Seq.fill(bits)(Seq.fill(dim)(if (rng.nextBoolean()) 1.0 else -1.0))
  }

  val hyperplanes: Seq[Seq[Double]] = hyperplanesFor(LshBits)

  /** Corpus-scaled sign-LSH sizing — the round-8 sf10 lesson: a FIXED
    * bit count means n²/2^bits within-bucket pairs, and at 100× the
    * bench SF the fixed-16-bucket blocks cost q41 406 s (733× growth),
    * q42 109 s, q40 58 s. The bit count must grow with the corpus so
    * expected bucket size stays ≤ [[TargetBucket]]: bits = the smallest
    * b in [minBits, [[MaxLshBits]]] with n ≤ TargetBucket·2^b — an
    * INTEGER threshold ladder (no log/libm), replayed exactly in the
    * oracle by [[scaledBitsSql]] over the same COUNT. Recall shifts
    * with n are the documented blocking semantic (more planes = finer
    * blocks), and the gate re-verifies value identity at every SF
    * because the oracle derives the identical bit count from the
    * identical count. */
  val MaxLshBits = 12
  val TargetBucket = 500L

  def scaledBits(n: Long, minBits: Int = LshBits): Int = {
    var b = minBits
    while (b < MaxLshBits && n > TargetBucket * (1L << b)) b += 1
    b
  }

  /** SQL twin of [[scaledBits]]: the same integer CASE ladder applied
    * to `nExpr` (typically a COUNT(*) scalar subquery). */
  def scaledBitsSql(nExpr: String, minBits: Int = LshBits): String = {
    // minBits == MaxLshBits would emit a zero-arm `CASE ELSE … END` —
    // a SQL syntax error; the ladder is then the constant
    if (minBits >= MaxLshBits) return MaxLshBits.toString
    val arms = (minBits until MaxLshBits)
      .map(b => s"WHEN $nExpr <= ${TargetBucket * (1L << b)} THEN $b")
      .mkString(" ")
    s"(CASE $arms ELSE $MaxLshBits END)"
  }

  /** SQL fragment: the [[MaxLshBits]]-plane bucket masked down to the
    * ladder-derived bit count — `full % (1 << bits)` equals
    * [[lshBucket]] over the first `bits` planes because the plane
    * stream is prefix-consistent and bit i carries weight 2^i. */
  def scaledBucketSqlExpr(nExpr: String, minBits: Int = LshBits): String =
    s"(${bucketSqlExpr(hyperplanesFor(MaxLshBits))}) % " +
      s"(CAST(1 AS BIGINT) << ${scaledBitsSql(nExpr, minBits)})"

  /** OR-amplified multi-table sign-LSH (round 11). One bucket table
    * retains a cosine-τ pair with probability p^bits (p = 1 − θ/π), and
    * the corpus-scaled ladder RAISES bits with n — so single-table
    * recall DECAYS as the corpus grows. The round-11 sampled audit
    * (tools/BlockedRecallAudit) measured exactly that: q40's τ=0.35
    * pair recall fell from 0.17 at sf0.1 (bits 4, p⁴ ≈ 0.14 predicted)
    * to 0.06 at sf1 (bits 6, p⁶ ≈ 0.054 predicted), and at the
    * production near-dup point (τ ≈ 0.97) the 100 TB ladder's 12 bits
    * would hold only p¹² ≈ 0.38. The standard amplification (LSH-book
    * banding applied to sign-LSH): [[LshTables]] independent tables, a
    * pair is a candidate when it collides in ANY of them — survival
    * 1 − (1 − p^b)^L, e.g. ≈ 0.98 at τ=0.97 with b=12, L=8. Per-table
    * bits ride the SAME ladder plus log₂ L ([[multiTableBits]]): each
    * table's buckets are 8× smaller, so the EIGHT tables together emit
    * the same aggregate candidate volume as the old single table —
    * recall is re-bought with hash diversity at equal cost, not with
    * more pairs (measured at sf10: the +1 variant's 156M collision
    * rows cost q40 348 s; the +3 schedule pays the old ~20M for
    * planted-near-dup recall 0.48 → ~0.99). The whole schedule stays
    * an integer function of the corpus count that the oracles replay.
    * Used by the q40/q41/q42 blocked-dedup family; the serving-side
    * q28/q54 keep single-table + multiprobe (query-time probing is
    * their recovery path — a self-join can't multiprobe without L×
    * rows, which is exactly what the tables are). The [[MaxLshBits]]
    * cap binds at ~2M vectors; beyond it per-table buckets grow ∝ n
    * again — the documented hand-off point to the IVF family (q65/
    * q72/q188), whose nlist ladder keeps scaling. */
  val LshTables = 8

  def multiTableBits(n: Long, minBits: Int = LshBits): Int =
    math.min(MaxLshBits, scaledBits(n, minBits) + 3)

  /** SQL twin of [[multiTableBits]]. */
  def multiTableBitsSql(nExpr: String, minBits: Int = LshBits): String =
    s"LEAST($MaxLshBits, ${scaledBitsSql(nExpr, minBits)} + 3)"

  /** Table t's plane slice: ONE fixed-seed stream of planes, table t
    * owning [t·MaxLshBits, t·MaxLshBits + bits) — table 0 is
    * bit-identical to the single-table [[lshBucket]] stack, and every
    * table's ladder masking stays prefix-consistent (the
    * [[scaledBucketSqlExpr]] argument, per table). */
  def tablePlanes(t: Int, bits: Int, dim: Int = Dim): Seq[Seq[Double]] =
    hyperplanesFor(t * MaxLshBits + bits, dim).drop(t * MaxLshBits)

  /** Array of the L per-table bucket ids of a (unit-agnostic) vector —
    * the native [[org.apache.spark.sql.graftbridge.SignLshBuckets]]
    * kernel: the Column-expression form (L·bits CASE WHEN dots in a
    * CreateArray) fell out of whole-stage codegen at L=8 × 12 planes
    * and its interpreted evaluation was 70 s of q40's 72 s at sf10. */
  def multiBuckets(e: org.apache.spark.sql.Column, bits: Int,
      tables: Int = LshTables, dim: Int = Dim): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.graftbridge.{ColumnBridge, SignLshBuckets}
    ColumnBridge.column(SignLshBuckets(ColumnBridge.expression(e),
      hyperplanesFor((tables - 1) * MaxLshBits + bits, dim),
      bits, MaxLshBits, tables))
  }

  /** Slim (vec_id, tbl, bucket) candidate rows — L per vector. The id
    * column of `v` must be `vec_id` and the vector column `e`. */
  private[graft] def multiBucketRows(v: DataFrame, bits: Int,
      tables: Int = LshTables, dim: Int = Dim): DataFrame =
    v.select(col("vec_id"), posexplode(multiBuckets(col("e"), bits, tables, dim)))
      .select(col("vec_id"), col("pos").as("tbl"), col("col").as("bucket"))

  /** SQL twin of table t's masked bucket (bitsExpr = the ladder SQL). */
  def tableBucketSqlExpr(t: Int, bitsExpr: String, dim: Int = Dim): String =
    s"(${bucketSqlExpr(tablePlanes(t, MaxLshBits, dim))}) % " +
      s"(CAST(1 AS BIGINT) << ($bitsExpr))"

  /** [[multiBuckets]] plus one weakest-margin probe bucket per table —
    * the `2·tables`-slot array of the native
    * [[org.apache.spark.sql.graftbridge.SignLshProbeBuckets]] kernel
    * (slots [0, L) = base buckets, [L, 2L) = per-table probes; a
    * consumer exploding it keys the table as `pos % tables`). Probing
    * only the SMALL side of an asymmetric bucket join (q42's batch)
    * buys the q54 margin-flip recall recovery at ~2× that side's rows
    * while the big corpus side stays at L rows per vector. */
  def multiProbeBuckets(e: org.apache.spark.sql.Column, bits: Int,
      tables: Int = LshTables, dim: Int = Dim): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.graftbridge.{ColumnBridge, SignLshProbeBuckets}
    ColumnBridge.column(SignLshProbeBuckets(ColumnBridge.expression(e),
      hyperplanesFor((tables - 1) * MaxLshBits + bits, dim),
      bits, MaxLshBits, tables))
  }

  /** SQL twin of table t's weakest-margin probe bucket: `bucketCol`
    * (table t's masked bucket) with its lowest-|dot| plane bit among
    * the first `bitsCol` planes flipped. `bitsCol` must be a plain
    * COLUMN reference (not a scalar-subquery expression — it is
    * captured inside a list lambda), so the oracle materializes the
    * ladder once in a 1-row CTE and cross-joins it. Margin dots use
    * [[dotSqlExpr]]'s strict left-to-right accumulation — bit-identical
    * to the native kernel — and `list_sort` on {'m','i'} structs
    * resolves margin ties to the lowest plane index, as the kernel's
    * strict `<` scan does. */
  def tableProbeBucketSqlExpr(t: Int, bitsCol: String, bucketCol: String,
      dim: Int = Dim): String = {
    val structs = tablePlanes(t, MaxLshBits, dim).zipWithIndex
      .map { case (p, i) => s"{'m': abs(${dotSqlExpr(p)}), 'i': $i}" }
      .mkString("[", ", ", "]")
    s"xor($bucketCol, CAST(1 AS BIGINT) << CAST(list_sort(" +
      s"list_filter($structs, s -> s.i < $bitsCol))[1].i AS INTEGER))"
  }

  /** Sign-LSH bucket id of an array<double> column. */
  def lshBucket(e: org.apache.spark.sql.Column,
      planes: Seq[Seq[Double]] = hyperplanes): org.apache.spark.sql.Column =
    planes.zipWithIndex.map { case (p, i) =>
      val planeLit = array(p.map(lit): _*)
      when(dot(e, planeLit) > 0.0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** q28: LSH-bucketed top-k — same query set/ranking as q27 but only
    * scoring candidates in the query's bucket. */
  def lshTopK(s: SparkSession, dir: String): DataFrame =
    lshTopK(graft.Tables.embeddings(s, dir))

  def lshTopK(embeddings: DataFrame): DataFrame = {
    val v = Dedup.normalized(embeddings).withColumn("bucket", lshBucket(col("e")))
    val q = v.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("e").as("eq"), col("nrm").as("nq"),
        col("bucket"))
    val c = v.select(col("vec_id").as("__cand_id"), col("e").as("ec"), col("nrm").as("nc"),
      col("bucket"))
    val scored = broadcast(q).join(c, Seq("bucket"))
      .filter(col("query_id") =!= col("__cand_id"))
      .select(col("query_id"), col("__cand_id"),
        cosinePre(col("eq"), col("ec"), col("nq"), col("nc")).as("sim"))
    explodeTopK(scored, "query_id", "neighbor_id", 10)
      .orderBy("query_id", "rank")
  }

  /** Multiprobe LSH top-k: besides its own bucket, each query probes the
    * buckets reached by flipping its lowest-|margin| sign bits — the
    * planes it was nearly on the wrong side of — which recovers most of
    * the recall lost to bucketing without adding planes (Lv et al.,
    * VLDB'07). `probes`=1 reduces to [[lshTopK]]'s candidate set. */
  def lshTopKMultiprobe(embeddings: DataFrame, probes: Int = 3): DataFrame = {
    require(probes >= 1 && probes <= LshBits + 1, "probes out of range")
    val v = Dedup.normalized(embeddings)
    // margins per plane: signed distance proxy = dot(e, plane_i)
    val margins = array(hyperplanes.map(p => dot(col("e"), array(p.map(lit): _*))): _*)
    val withBucket = v.withColumn("bucket", lshBucket(col("e")))
      .withColumn("margins", margins)
    val c = withBucket.select(col("vec_id").as("__cand_id"), col("e").as("ec"),
      col("nrm").as("nc"), col("bucket"))
    // rank planes by |margin| ascending; probe buckets = base, then base
    // with the weakest bit flipped, then the next-weakest, ...
    val q = withBucket.filter(col("vec_id") < 10)
      .withColumn("flip_order",
        transform(array_sort(transform(sequence(lit(0), lit(LshBits - 1)),
          i => struct(abs(element_at(col("margins"), i + 1)).as("m"), i.as("i")))),
          x => x.getField("i")))
      .withColumn("probe_buckets",
        transform(sequence(lit(0), lit(probes - 1)), j => {
          // 1 << plane_index as a when-chain generated over ALL planes,
          // so raising LshBits can never silently flip the wrong bit
          val planeIdx = element_at(col("flip_order"), j) // flip_order[j-1] unused at j=0
          val bit = (1 until LshBits)
            .foldLeft(when(planeIdx === 0, 1L)) { (acc, b) =>
              acc.when(planeIdx === b, 1L << b)
            }
          when(j === 0, col("bucket")).otherwise(col("bucket").bitwiseXOR(bit))
        }))
      .select(col("vec_id").as("query_id"), col("e").as("eq"), col("nrm").as("nq"),
        explode(col("probe_buckets")).as("bucket"))
    // no pair-dedup needed: a candidate lives in exactly one bucket and
    // a query's probe buckets are pairwise distinct (base XOR distinct
    // single bits), so each (query, candidate) matches at most once — a
    // dropDuplicates here would be a pure extra shuffle
    val scored = broadcast(q).join(c, Seq("bucket"))
      .filter(col("query_id") =!= col("__cand_id"))
      .select(col("query_id"), col("__cand_id"),
        cosinePre(col("eq"), col("ec"), col("nq"), col("nc")).as("sim"))
    explodeTopK(scored, "query_id", "neighbor_id", 10)
      .orderBy("query_id", "rank")
  }

  /** q54: [[lshTopKMultiprobe]] gated at probes=3 — the recall-recovery
    * scale path of q28, oracle-checked because the probe-bucket choice is
    * a pure function of the fixed hyperplanes (rank planes by |margin|,
    * flip the weakest bits). */
  def lshTopKMultiprobeQ(s: SparkSession, dir: String): DataFrame =
    lshTopKMultiprobe(graft.Tables.embeddings(s, dir), probes = 3)

  /** Strict left-to-right dot product of `e` with a plane constant —
    * the SQL twin of the native DotProductDouble accumulation order, so
    * margins (and thus probe order) are bit-identical. */
  private[operators] def dotSqlExpr(p: Seq[Double]): String = {
    val lst = p.mkString("[", ",", "]")
    s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |  list_transform(range(1, ${p.size + 1}), d -> e[d] * ($lst)[d])), (x,y) -> x+y)""".stripMargin
  }

  /** Generated DuckDB oracle for q54: same planes → same margins → same
    * |margin|-ranked flip order → same probe buckets; candidates from
    * any probe bucket, deduplicated, ranked exactly as q28. */
  def multiprobeOracleSql(probes: Int = 3, k: Int = 10): String = {
    val bucketExpr = bucketSqlExpr(hyperplanes)
    val structs = hyperplanes.zipWithIndex
      .map { case (p, i) => s"{'m': abs(${dotSqlExpr(p)}), 'i': $i}" }
      .mkString("[", ", ", "]")
    val probeList = (0 until probes).map {
      case 0 => "bucket"
      case j => s"xor(bucket, CAST(1 AS BIGINT) << CAST(fo[$j].i AS INTEGER))"
    }.mkString("[", ", ", "]")
    s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings WHERE embedding IS NOT NULL),
       |n AS (SELECT vec_id, e,
       |  sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |    list_transform(range(1, len(e)+1), i -> e[i]*e[i])), (x,y) -> x+y)) AS nrm,
       |  $bucketExpr AS bucket FROM v),
       |q AS (SELECT vec_id, e, nrm, bucket, list_sort($structs) AS fo
       |  FROM n WHERE vec_id < 10),
       |probed AS (SELECT vec_id, e, nrm, unnest($probeList) AS bucket FROM q),
       |p AS (SELECT DISTINCT q2.vec_id AS query_id, c.vec_id AS neighbor_id,
       |  list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |    list_transform(range(1, len(q2.e)+1), i -> q2.e[i]*c.e[i])), (x,y) -> x+y)
       |   / (q2.nrm * c.nrm) AS sim
       |  FROM probed q2 JOIN n c ON q2.bucket = c.bucket AND q2.vec_id <> c.vec_id),
       |r AS (SELECT query_id, neighbor_id, sim,
       |  ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
       |  FROM p)
       |SELECT query_id, neighbor_id, rank, ROUND(sim, 9) AS sim_r
       |FROM r WHERE rank <= $k ORDER BY query_id, rank""".stripMargin
  }

  /** DuckDB SQL fragment reproducing [[lshBucket]] over a column `e`
    * (array<double>) for the given plane stack — strict left-to-right
    * fold, so bucket assignment is bit-identical to the Spark plan. Used
    * by every generated oracle that bakes the blocking into the SQL. */
  def bucketSqlExpr(planes: Seq[Seq[Double]]): String =
    planes.zipWithIndex.map { case (p, i) =>
      val lst = p.mkString("[", ",", "]")
      s"""CASE WHEN list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |  list_transform(range(1, ${p.size + 1}), d -> e[d] * ($lst)[d])), (x,y) -> x+y) > 0
         |  THEN ${1L << i} ELSE 0 END""".stripMargin
    }.mkString(" + ")

  /** DuckDB oracle for q28, generated from the same hyperplane constants
    * so bucket assignment is reproduced exactly. */
  def lshTopKOracleSql: String = {
    val bucketExpr = bucketSqlExpr(hyperplanes)
    s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings WHERE embedding IS NOT NULL),
       |n AS (SELECT vec_id, e,
       |  sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |    list_transform(range(1, len(e)+1), i -> e[i]*e[i])), (x,y) -> x+y)) AS nrm,
       |  $bucketExpr AS bucket FROM v),
       |p AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |  list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |    list_transform(range(1, len(q.e)+1), i -> q.e[i]*c.e[i])), (x,y) -> x+y)
       |   / (q.nrm * c.nrm) AS sim
       |  FROM n q JOIN n c ON q.bucket = c.bucket
       |   AND q.vec_id < 10 AND q.vec_id <> c.vec_id),
       |r AS (SELECT query_id, neighbor_id, sim,
       |  ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
       |  FROM p)
       |SELECT query_id, neighbor_id, rank, ROUND(sim, 9) AS sim_r
       |FROM r WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin
  }

  /** q129: ANN recall audit — the evaluation every approximate-index
    * rollout runs before trusting it: per query, how many of the exact
    * top-10 (q27) the single-bucket LSH (q28) and the 3-probe
    * multiprobe (q54) candidate sets recovered. Output is pure integers
    * (truth size, hit counts), so the gate is exact — no float recall
    * ratio two engines could round differently; the multiprobe column
    * ≥ the LSH column BY CONSTRUCTION (its candidate set is a
    * superset), and the spec asserts that dominance.
    *
    * Scale notes: composes the three gated pipelines (queries stay a
    * 10-row broadcast; candidates flow through the same bucket joins),
    * then two output-sized (10×10-row) left joins + one aggregate —
    * the audit itself costs nothing beyond the searches it audits. */
  def annRecall(s: SparkSession, dir: String): DataFrame =
    annRecall(graft.Tables.embeddings(s, dir))

  def annRecall(embeddings: DataFrame): DataFrame = {
    val truth = bruteForceTopK(embeddings).select(col("query_id"), col("neighbor_id"))
    val lsh = lshTopK(embeddings)
      .select(col("query_id"), col("neighbor_id"), lit(1L).as("hit_lsh"))
    val mp = lshTopKMultiprobe(embeddings, 3)
      .select(col("query_id"), col("neighbor_id"), lit(1L).as("hit_mp"))
    truth.join(lsh, Seq("query_id", "neighbor_id"), "left")
      .join(mp, Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_truth"),
        sum(coalesce(col("hit_lsh"), lit(0L))).as("hits_lsh"),
        sum(coalesce(col("hit_mp"), lit(0L))).as("hits_multiprobe"))
      .orderBy("query_id")
  }

  /** Generated oracle for q129: the q27/q28/q54 chains (same planes,
    * same folds, same tie order) composed under prefixed CTE names,
    * joined on (query, neighbor) exactly like the engine. */
  def annRecallOracleSql: String = {
    val bucketExpr = bucketSqlExpr(hyperplanes)
    val structs = hyperplanes.zipWithIndex
      .map { case (p, i) => s"{'m': abs(${dotSqlExpr(p)}), 'i': $i}" }
      .mkString("[", ", ", "]")
    val probeList = (0 until 3).map {
      case 0 => "bucket"
      case j => s"xor(bucket, CAST(1 AS BIGINT) << CAST(fo[$j].i AS INTEGER))"
    }.mkString("[", ", ", "]")
    val cosSql =
      """list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |    list_transform(range(1, len(q2.e)+1), i -> q2.e[i]*c.e[i])), (x,y) -> x+y)
        |   / (q2.nrm * c.nrm)""".stripMargin
    s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings WHERE embedding IS NOT NULL),
       |n AS (SELECT vec_id, e,
       |  sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |    list_transform(range(1, len(e)+1), i -> e[i]*e[i])), (x,y) -> x+y)) AS nrm,
       |  $bucketExpr AS bucket FROM v),
       |bp AS (SELECT q2.vec_id AS query_id, c.vec_id AS neighbor_id, $cosSql AS sim
       |  FROM n q2 JOIN n c ON q2.vec_id < 10 AND q2.vec_id <> c.vec_id),
       |bt AS (SELECT query_id, neighbor_id FROM (
       |  SELECT query_id, neighbor_id,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
       |  FROM bp) WHERE rank <= 10),
       |lp AS (SELECT q2.vec_id AS query_id, c.vec_id AS neighbor_id, $cosSql AS sim
       |  FROM n q2 JOIN n c ON q2.bucket = c.bucket
       |   AND q2.vec_id < 10 AND q2.vec_id <> c.vec_id),
       |lt AS (SELECT query_id, neighbor_id FROM (
       |  SELECT query_id, neighbor_id,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
       |  FROM lp) WHERE rank <= 10),
       |mq AS (SELECT vec_id, e, nrm, bucket, list_sort($structs) AS fo
       |  FROM n WHERE vec_id < 10),
       |probed AS (SELECT vec_id, e, nrm, unnest($probeList) AS bucket FROM mq),
       |mpp AS (SELECT DISTINCT q2.vec_id AS query_id, c.vec_id AS neighbor_id, $cosSql AS sim
       |  FROM probed q2 JOIN n c ON q2.bucket = c.bucket AND q2.vec_id <> c.vec_id),
       |mt AS (SELECT query_id, neighbor_id FROM (
       |  SELECT query_id, neighbor_id,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
       |  FROM mpp) WHERE rank <= 10)
       |SELECT bt.query_id, CAST(COUNT(*) AS BIGINT) AS n_truth,
       |  CAST(SUM(CASE WHEN lt.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits_lsh,
       |  CAST(SUM(CASE WHEN mt.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits_multiprobe
       |FROM bt
       |LEFT JOIN lt ON bt.query_id = lt.query_id AND bt.neighbor_id = lt.neighbor_id
       |LEFT JOIN mt ON bt.query_id = mt.query_id AND bt.neighbor_id = mt.neighbor_id
       |GROUP BY bt.query_id ORDER BY bt.query_id""".stripMargin
  }

  /** Integer micro-nano DCG discount weights for [[rankQuality]]:
    * wq(r) = round(10⁹ / log2(r+1)), computed ONCE here and inlined as
    * the SAME literals into both the Spark plan and the oracle SQL —
    * log2 never runs in either engine (the q74 libm stance), and DCG
    * sums are exact longs in any aggregation order. */
  private val dcgW: IndexedSeq[Long] = (1 to 10).map(r =>
    Math.round(1e9 / (Math.log(r + 1.0) / Math.log(2.0))))
  private val dcgCum: IndexedSeq[Long] = dcgW.scanLeft(0L)(_ + _).tail

  /** q196: rank-AWARE quality of the LSH ranking (q28) against exact
    * truth (q27) — MRR and nDCG@10 per query. q129's recall counts
    * WHICH true neighbors an ANN index returns; serving quality also
    * depends on WHERE it ranks them (a true neighbor at rank 10 is
    * worth less than at rank 1 to every UI and every RAG prompt
    * window). MRR = 1/rank of the first true hit; DCG = Σ w(rank) over
    * true hits with the standard 1/log2(rank+1) discount; nDCG
    * normalizes by the ideal prefix. The fourth member of the IR-eval
    * family (recall q129/q183, calibration q187, THIS).
    *
    * Engine-exact: discounts are precomputed integer literals
    * ([[dcgW]]) so DCG/IDCG are exact long sums and the single nDCG
    * division is one IEEE op over exact longs; MRR is one division of
    * small exact integers; hitless queries report 0 (the standard
    * convention) with NULL first_hit_rank.
    *
    * Scale notes: both input rankings are the existing bounded-heap
    * operators (probe·k rows each); everything here joins and
    * aggregates probe·k-sized frames — nothing corpus-sized. */
  def rankQuality(s: SparkSession, dir: String): DataFrame =
    rankQuality(graft.Tables.embeddings(s, dir))

  def rankQuality(embeddings: DataFrame): DataFrame = {
    val truth = bruteForceTopK(embeddings)
      .select(col("query_id"), col("neighbor_id"))
    val ranked = lshTopK(embeddings)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
    val wCase = dcgW.zipWithIndex.foldLeft(lit(0L)) { case (acc, (w, i)) =>
      when(col("rank") === (i + 1).toLong, lit(w)).otherwise(acc)
    }
    val hits = truth.join(ranked, Seq("query_id", "neighbor_id"))
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_hits"), min(col("rank")).as("first_hit_rank"),
        sum(wCase).as("dcg_q"))
    val idcgCase = dcgCum.zipWithIndex.foldLeft(lit(0L)) { case (acc, (c, i)) =>
      when(col("n_truth") === (i + 1).toLong, lit(c)).otherwise(acc)
    }
    truth.groupBy(col("query_id")).agg(count(lit(1)).as("n_truth"))
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"), col("n_truth"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        col("first_hit_rank"),
        coalesce(round(lit(1.0) / col("first_hit_rank").cast("double"), 9),
          lit(0.0)).as("mrr_r"),
        coalesce(col("dcg_q"), lit(0L)).as("dcg_q"),
        round(coalesce(col("dcg_q"), lit(0L)).cast("double") /
          idcgCase.cast("double"), 9).as("ndcg_r"))
      .orderBy("query_id")
  }

  /** q196 oracle: q27/q28's chains (same planes, folds, tie order)
    * with the LSH rank kept, the identical integer discount literals,
    * and the identical hitless-query conventions. */
  def rankQualityOracleSql: String = {
    val bucketExpr = bucketSqlExpr(hyperplanes)
    val cosSql =
      """list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |    list_transform(range(1, len(q2.e)+1), i -> q2.e[i]*c.e[i])), (x,y) -> x+y)
        |   / (q2.nrm * c.nrm)""".stripMargin
    val wCase = dcgW.zipWithIndex
      .map { case (w, i) => s"WHEN ${i + 1} THEN $w" }.mkString(" ")
    val cumCase = dcgCum.zipWithIndex
      .map { case (c, i) => s"WHEN ${i + 1} THEN $c" }.mkString(" ")
    s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings WHERE embedding IS NOT NULL),
       |n AS (SELECT vec_id, e,
       |  sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |    list_transform(range(1, len(e)+1), i -> e[i]*e[i])), (x,y) -> x+y)) AS nrm,
       |  $bucketExpr AS bucket FROM v),
       |bp AS (SELECT q2.vec_id AS query_id, c.vec_id AS neighbor_id, $cosSql AS sim
       |  FROM n q2 JOIN n c ON q2.vec_id < 10 AND q2.vec_id <> c.vec_id),
       |bt AS (SELECT query_id, neighbor_id FROM (
       |  SELECT query_id, neighbor_id,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
       |  FROM bp) WHERE rank <= 10),
       |lp AS (SELECT q2.vec_id AS query_id, c.vec_id AS neighbor_id, $cosSql AS sim
       |  FROM n q2 JOIN n c ON q2.bucket = c.bucket
       |   AND q2.vec_id < 10 AND q2.vec_id <> c.vec_id),
       |ltr AS (SELECT query_id, neighbor_id, rank FROM (
       |  SELECT query_id, neighbor_id,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
       |  FROM lp) WHERE rank <= 10),
       |tq AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_truth FROM bt GROUP BY 1),
       |h AS (SELECT bt.query_id, ltr.rank
       |  FROM bt JOIN ltr ON bt.query_id = ltr.query_id AND bt.neighbor_id = ltr.neighbor_id),
       |ag AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_hits,
       |    CAST(MIN(rank) AS BIGINT) AS first_hit_rank,
       |    CAST(SUM(CASE rank $wCase ELSE 0 END) AS BIGINT) AS dcg_q
       |  FROM h GROUP BY 1)
       |SELECT tq.query_id, tq.n_truth,
       |  COALESCE(ag.n_hits, 0) AS n_hits,
       |  ag.first_hit_rank,
       |  COALESCE(ROUND(1.0 / ag.first_hit_rank, 9), 0.0) AS mrr_r,
       |  COALESCE(ag.dcg_q, 0) AS dcg_q,
       |  ROUND(CAST(COALESCE(ag.dcg_q, 0) AS DOUBLE) /
       |    CAST(CASE tq.n_truth $cumCase ELSE 0 END AS DOUBLE), 9) AS ndcg_r
       |FROM tq LEFT JOIN ag ON tq.query_id = ag.query_id
       |ORDER BY tq.query_id""".stripMargin
  }

  /** q65: oracle-gated IVF (inverted-file) top-k — the billion-scale
    * ANN layout: a k-means coarse quantizer over the corpus, queries
    * probe their `nprobe` nearest cells and score only those
    * candidates. The quantizer is [[KMeansOp]]'s deterministic Lloyd
    * trainer, which makes the ENTIRE index + search path reproducible in
    * another engine: quantized integral-double vectors give exact
    * centroid arithmetic, probe ranking is an exact dist2 sort, and the
    * final cosine scoring matches the q27/q28 fold bit-for-bit.
    * Centroids ride as literals (no join, no corpus shuffle for
    * assignment); [[IvfIndex]] (q72) is the persisted, cell-partitioned
    * layout of the same pipeline. */
  def ivfTopKExact(s: SparkSession, dir: String): DataFrame =
    ivfTopKExact(graft.Tables.embeddings(s, dir))

  def ivfTopKExact(embeddings: DataFrame, nprobe: Int = 3, k: Int = 10): DataFrame = {
    val (qv, cents) = KMeansOp.trainCentsScaled(embeddings)
    val assigned = KMeansOp.assignAuto(qv, cents).select(col("vec_id"), col("cell"))
    val v = Dedup.normalized(embeddings)
    val cand = v.join(assigned, Seq("vec_id"))
      .select(col("vec_id").as("__cand_id"), col("e").as("ec"),
        col("nrm").as("nc"), col("cell"))
    ivfProbeScore(qv.filter(col("vec_id") < 10), v, cents, cand, nprobe, k)
  }

  /** The exact-IVF probe-and-score pipeline shared by q65 (in-memory
    * candidates) and q72 (cell-partitioned on-disk candidates) — ONE
    * implementation so the persisted-index read path can never drift
    * from the in-memory path whose generated oracle q72 shares.
    * `qv`: quantized query vectors (vec_id, q); `v`: normalized query
    * vectors (vec_id, e, nrm); `cand`: (__cand_id, ec, nc, cell).
    * Probe ranking is exact quantized dist2 to each centroid, ties by
    * cell id — array_sort over (d, cell) structs = the oracle's
    * ORDER BY. */
  private[operators] def ivfProbeScore(qv: DataFrame, v: DataFrame,
      cents: Seq[(Long, Seq[Double])], cand: DataFrame,
      nprobe: Int, k: Int): DataFrame = {
    // Probe ranking runs DRIVER-side (the q188 pattern): the query set
    // is bounded (≤ NQ rows) and a nlist-literal struct array would put
    // nlist·Dim doubles in the plan — fine at 8 cells, a codegen wall
    // at the corpus-scaled 512+. PqOp.lutDist is the same
    // qq − 2·qc + cc left-fold as KMeansOp.dist2 and the oracle's
    // list_reduce chain, so ranks (ties by lowest cell) agree exactly.
    val spark = qv.sparkSession
    val qrows = KMeansOp.collectCents(qv.select(col("vec_id"), col("q")))
    val probePairs: Seq[(Long, Long)] = qrows.flatMap { case (qid, q) =>
      cents.map { case (cell, c) => (PqOp.lutDist(q, c), cell) }
        .sortBy { case (d, cell) => (d, cell) }
        .take(nprobe).map { case (_, cell) => (qid, cell) }
    }
    val probes =
      if (probePairs.isEmpty)
        // zero cells (empty corpus) or zero queries: no probes — keep
        // the typed degenerate so downstream analysis resolves
        qv.select(col("vec_id").as("query_id"),
          lit(null).cast("long").as("cell")).limit(0)
      else {
        import spark.implicits._
        probePairs.toDF("query_id", "cell")
      }
    val q = probes
      .join(v.select(col("vec_id").as("query_id"), col("e").as("eq"),
        col("nrm").as("nq")), Seq("query_id"))
    val scored = broadcast(q).join(cand, Seq("cell"))
      .filter(col("query_id") =!= col("__cand_id"))
      .select(col("query_id"), col("__cand_id"),
        cosinePre(col("eq"), col("ec"), col("nq"), col("nc")).as("sim"))
    explodeTopK(scored, "query_id", "neighbor_id", k)
      .orderBy("query_id", "rank")
  }

  /** Generated DuckDB oracle for q65: replays the deterministic k-means
    * train (shared CTE chain with the q63 oracle), the nprobe cell
    * ranking, and the cosine scoring — candidates live in exactly one
    * cell and probe cells are distinct, so no DISTINCT is needed. The
    * corpus-scaled nlist and the md5-strided training sample are both
    * re-derived from the SAME count the Spark side uses. */
  def ivfExactOracleSql(nprobe: Int = 3, k: Int = 10): String =
    s"""WITH ${KMeansOp.kmeansScaledCtes("", includeAllAssign = false)},
       |${ivfProbeScoreOracleSql("qv", "af", nprobe, k)}""".stripMargin

  /** [[ivfProbeScore]]'s oracle tail over a trained
    * [[KMeansOp.kmeansScaledCtes]] chain: `n` (normalized vectors),
    * `pr`/`probed` (each query's `nprobe` nearest cells by exact dist2,
    * ties by cell), `cand` (the assigned corpus), `p`/`r` (cosine-scored
    * candidates ranked per query) and the top-`k` SELECT. `querySrc`
    * holds the quantized queries, `assigned` the corpus's final cell
    * assignment. */
  private[operators] def ivfProbeScoreOracleSql(querySrc: String, assigned: String,
      nprobe: Int, k: Int): String = {
    val cR = KMeansOp.centsCte("")
    s"""n AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e,
       |  sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |    list_transform(range(1, len(embedding)+1),
       |      i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))), (x,y) -> x+y)) AS nrm
       |  FROM embeddings WHERE embedding IS NOT NULL),
       |pr AS (SELECT qv.vec_id AS query_id, $cR.cell,
       |    ROW_NUMBER() OVER (PARTITION BY qv.vec_id ORDER BY
       |      ${KMeansOp.dist2Sql(KMeansOp.Dim, "qv.q", cR)}, $cR.cell) AS cell_rank
       |  FROM $querySrc qv CROSS JOIN $cR WHERE qv.vec_id < 10),
       |probed AS (SELECT query_id, cell FROM pr WHERE cell_rank <= $nprobe),
       |cand AS (SELECT $assigned.vec_id, $assigned.cell, n.e, n.nrm FROM $assigned JOIN n USING (vec_id)),
       |p AS (SELECT probed.query_id, cand.vec_id AS neighbor_id,
       |  list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |    list_transform(range(1, len(nq.e)+1), i -> nq.e[i]*cand.e[i])), (x,y) -> x+y)
       |   / (nq.nrm * cand.nrm) AS sim
       |  FROM probed JOIN cand USING (cell) JOIN n nq ON nq.vec_id = probed.query_id
       |  WHERE cand.vec_id <> probed.query_id),
       |r AS (SELECT query_id, neighbor_id, sim,
       |  ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
       |  FROM p)
       |SELECT query_id, neighbor_id, rank, ROUND(sim, 9) AS sim_r
       |FROM r WHERE rank <= $k ORDER BY query_id, rank""".stripMargin
  }

  /** q41: LSH-blocked approximate k-NN self-join — the oracle-gated
    * q29 scale path. Every vector scores only the others sharing ≥1 of
    * its [[LshTables]] sign-LSH buckets, so pairwise work drops from n²
    * to L·Σ|bucket|² ≈ L·n²/2^bits (the blocking is a pure function of
    * the fixed hyperplanes — reproducible in any engine, which is what
    * lets the DuckDB oracle check it exactly). Vectors colliding with nobody
    * emit no rows. The bit count is corpus-scaled ([[multiTableBits]] —
    * the sf10 lesson: 4 fixed bits cost 406 s at 100× data; the ladder
    * keeps expected per-table bucket size bounded and the oracle
    * derives the same count, so the gate checks the sizing too), and
    * the OR over tables is what keeps neighbor recall from decaying as
    * the ladder grows with the corpus (see [[LshTables]] — the
    * round-11 audit measured 0.06 single-table edge survival at sf1). */
  def knnJoinLshBlocked(s: SparkSession, dir: String): DataFrame = {
    val n = graft.Tables.cachedCount(s, dir, "emb_nonnull")(
      Dedup.normalized(graft.Tables.embeddings(s, dir)).count())
    knnJoinLshBlocked(graft.Tables.embeddings(s, dir), bits = multiTableBits(n))
  }

  def knnJoinLshBlocked(embeddings: DataFrame, k: Int = 3, bits: Int = LshBits,
      tables: Int = LshTables): DataFrame = {
    // payloads ride the exploded (tbl, bucket) rows (L·n slim copies)
    // so scoring is pipelined inside the collision join — no pair row
    // carries an array through an exchange (the q40 round-11 lesson:
    // fetching payloads per candidate pair shuffled |pairs|·544 B).
    // Multi-table duplicates (a pair colliding in several tables) are
    // deduped INSIDE the bounded top-k heap (distinctIds — sim is
    // pair-pure, so in-heap id-dedup is value-identical to a
    // dropDuplicates), which deletes the only full-pair-volume
    // exchange in the plan: the scored rows partial-aggregate map-side
    // straight off the collision join.
    val v = Dedup.normalized(embeddings)
    val w = v.select(col("vec_id"), col("e"), col("nrm"),
        posexplode(multiBuckets(col("e"), bits, tables)))
      .select(col("vec_id"), col("e"), col("nrm"),
        col("pos").as("tbl"), col("col").as("bucket"))
    val a = w.select(col("vec_id").as("src_id"), col("e").as("ea"),
      col("nrm").as("na"), col("tbl"), col("bucket"))
    val b = w.select(col("vec_id").as("__cand_id"), col("e").as("eb"),
      col("nrm").as("nb"), col("tbl"), col("bucket"))
    val scored = a.join(b, Seq("tbl", "bucket"))
      .filter(col("src_id") =!= col("__cand_id"))
      .select(col("src_id"), col("__cand_id"),
        cosinePre(col("ea"), col("eb"), col("na"), col("nb")).as("sim"))
    explodeTopK(scored, "src_id", "nbr_id", k, distinctIds = true)
      .orderBy("src_id", "rank")
  }

  /** Generated DuckDB oracle for q41: same hyperplane constants → same
    * L per-table buckets → same candidate set (the OR over table
    * columns is exactly "collides in ≥1 table", and an OR-join pairs
    * each candidate once — the SQL mirror of the Spark side's
    * dropDuplicates); the corpus-scaled bit count is re-derived IN SQL
    * from the same row count and applied as a low-bit mask of each
    * table's [[MaxLshBits]]-plane bucket; ranking replayed as a
    * window. */
  def knnJoinLshOracleSql(k: Int = 3): String = {
    val bitsExpr = multiTableBitsSql("(SELECT COUNT(*) FROM v)")
    val bcols = (0 until LshTables).map(t =>
      s"${tableBucketSqlExpr(t, bitsExpr)} AS b$t").mkString(",\n  ")
    val orCond = (0 until LshTables).map(t => s"a.b$t = b.b$t").mkString(" OR ")
    s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings WHERE embedding IS NOT NULL),
       |n AS (SELECT vec_id, e,
       |  sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |    list_transform(range(1, len(e)+1), i -> e[i]*e[i])), (x,y) -> x+y)) AS nrm,
       |  $bcols FROM v),
       |p AS (SELECT a.vec_id AS src_id, b.vec_id AS nbr_id,
       |  list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |    list_transform(range(1, len(a.e)+1), i -> a.e[i]*b.e[i])), (x,y) -> x+y)
       |   / (a.nrm * b.nrm) AS sim
       |  FROM n a JOIN n b ON a.vec_id <> b.vec_id AND ($orCond)),
       |r AS (SELECT src_id, nbr_id, sim,
       |  ROW_NUMBER() OVER (PARTITION BY src_id ORDER BY sim DESC, nbr_id) AS rank
       |  FROM p)
       |SELECT src_id, nbr_id, rank, ROUND(sim, 9) AS sim_r
       |FROM r WHERE rank <= $k ORDER BY src_id, rank""".stripMargin
  }

  /** q29: exact k-NN self-join, k=3 — every vector gets its 3 nearest
    * neighbors (recommendation precompute shape). */
  def knnJoin(s: SparkSession, dir: String): DataFrame =
    knnJoin(graft.Tables.embeddings(s, dir))

  def knnJoin(embeddings: DataFrame): DataFrame = {
    val v = Dedup.normalized(embeddings)
    val a = v.select(col("vec_id").as("src_id"), col("e").as("ea"), col("nrm").as("na"))
    val b = v.select(col("vec_id").as("__cand_id"), col("e").as("eb"), col("nrm").as("nb"))
    val scored = a.join(b, col("src_id") =!= col("__cand_id"))
      .select(col("src_id"), col("__cand_id"),
        cosinePre(col("ea"), col("eb"), col("na"), col("nb")).as("sim"))
    explodeTopK(scored, "src_id", "nbr_id", 3)
      .orderBy("src_id", "rank")
  }

  /** q167: metadata-filtered vector search — q27's exact ranking with a
    * payload predicate: candidates must carry the query's `label`. This
    * is Qdrant's filtered search, the single most-used production vector
    * query shape ("similar items in the same category"): the reference's
    * UI composes it from two halves — attribute filters over metadata
    * (streamlit/app/app.py:110-147 creator/provider/tags WHERE clauses)
    * and the unfiltered vector panel (app.py:237-254) — while the engine
    * applies the predicate INSIDE the search so the top-k is filled with
    * eligible items, not post-filtered away (post-filtering a top-10 by
    * label can return 0 rows; in-search filtering cannot).
    *
    * Scale notes: the label predicate becomes the join key — candidates
    * shuffle-prune to the query's label partition before a single dot
    * product runs, the DataFrame analog of a label-partitioned IVF index
    * (filter attr = partition key, so Catalyst prunes at the scan when
    * the corpus is stored partitioned by label). The query side stays
    * broadcast; top-k is the same map-side bounded-heap aggregate as
    * q27. NULL-label rows are unmatchable payloads and drop at the scan,
    * like NULL embeddings. */
  def filteredTopK(s: SparkSession, dir: String): DataFrame =
    filteredTopK(graft.Tables.embeddings(s, dir))

  def filteredTopK(embeddings: DataFrame): DataFrame = {
    val v = embeddings
      .where(col("embedding").isNotNull && col("label").isNotNull)
      .select(col("vec_id"), col("label"), toDouble(col("embedding")).as("e"))
      .withColumn("nrm", norm(col("e")))
    val q = v.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("label"),
        col("e").as("eq"), col("nrm").as("nq"))
    val c = v.select(col("vec_id").as("__cand_id"), col("label"),
      col("e").as("ec"), col("nrm").as("nc"))
    val scored = broadcast(q).join(c, Seq("label"))
      .filter(col("query_id") =!= col("__cand_id"))
      .select(col("query_id"), col("__cand_id"),
        cosinePre(col("eq"), col("ec"), col("nq"), col("nc")).as("sim"))
    explodeTopK(scored, "query_id", "cand_id", 10)
      .join(broadcast(q.select(col("query_id"), col("label"))), Seq("query_id"))
      .select(col("query_id"), col("label"), col("cand_id"), col("rank"),
        col("sim_r"))
      .orderBy("query_id", "rank")
  }

  /** q167 oracle: q27's cosine CTEs with the label equi-predicate. */
  def filteredTopKOracleSql: String =
    """WITH v AS (SELECT vec_id, label,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      |  FROM embeddings WHERE embedding IS NOT NULL AND label IS NOT NULL),
      |n AS (SELECT vec_id, label, e,
      |  sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |    list_transform(range(1, len(e)+1), i -> e[i]*e[i])), (x,y) -> x+y)) AS nrm FROM v),
      |p AS (SELECT q.vec_id AS query_id, q.label AS label, c.vec_id AS cand_id,
      |  list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |    list_transform(range(1, len(q.e)+1), i -> q.e[i]*c.e[i])), (x,y) -> x+y)
      |   / (q.nrm * c.nrm) AS sim
      |  FROM n q JOIN n c ON q.label = c.label
      |    AND q.vec_id < 10 AND q.vec_id <> c.vec_id),
      |r AS (SELECT query_id, label, cand_id, sim,
      |  ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, cand_id) AS rank
      |  FROM p)
      |SELECT query_id, label, cand_id, rank, ROUND(sim, 9) AS sim_r
      |FROM r WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin

  /** q180: hard-negative mining for contrastive training — for each
    * anchor (vec_id < 10) the top-[[HardNegK]] most-similar vectors
    * carrying a DIFFERENT label, plus the anchor's best same-label
    * similarity (`pos_sim_r`) so the consumer can margin-filter (keep
    * negatives with sim < pos_sim, the standard false-negative guard).
    * This is the mining step dense-retriever training runs over the
    * whole corpus (DPR, Karpukhin et al. EMNLP 2020; the
    * sentence-transformers `mine_hard_negatives` recipe): the model
    * learns from near-misses, not random negatives. Complements q167
    * (same-label search) — the same in-search predicate, negated.
    *
    * Scale notes: the anchor set broadcasts into both arms, so the
    * corpus is scanned twice but never shuffled — the negatives arm is
    * a broadcast join with a ≠-label residual feeding the map-side
    * bounded-heap top-k ([[topKAgg]], ≤ k rows per partition per
    * anchor into the shuffle), the positives arm a broadcast equi-join
    * feeding a map-combined MAX. At 100 TB with a label-partitioned
    * store the positive arm partition-prunes to the anchor's label and
    * the negative arm to everything else; with many anchors you flip
    * the candidate side to IVF cells (q72) exactly as for q27. Rounding
    * happens once per output column (no round-of-difference), so the
    * gate compares raw-chain doubles in both engines. */
  val HardNegK = 5

  def hardNegatives(s: SparkSession, dir: String): DataFrame =
    hardNegatives(graft.Tables.embeddings(s, dir))

  def hardNegatives(embeddings: DataFrame): DataFrame = {
    val v = embeddings
      .where(col("embedding").isNotNull && col("label").isNotNull)
      .select(col("vec_id"), col("label"), toDouble(col("embedding")).as("e"))
      .withColumn("nrm", norm(col("e")))
    val q = v.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("label").as("qlabel"),
        col("e").as("eq"), col("nrm").as("nq"))
    val c = v.select(col("vec_id").as("__cand_id"), col("label").as("clabel"),
      col("e").as("ec"), col("nrm").as("nc"))
    val negScored = broadcast(q).join(c, col("qlabel") =!= col("clabel"))
      .select(col("query_id"), col("__cand_id"),
        cosinePre(col("eq"), col("ec"), col("nq"), col("nc")).as("sim"))
    val topNeg = explodeTopK(negScored, "query_id", "neg_id", HardNegK)
    val bestPos = broadcast(q).join(c,
        col("qlabel") === col("clabel") && col("query_id") =!= col("__cand_id"))
      .groupBy(col("query_id"))
      .agg(max(cosinePre(col("eq"), col("ec"), col("nq"), col("nc"))).as("pos_sim"))
    topNeg
      .join(broadcast(q.select(col("query_id"), col("qlabel").as("label"))),
        Seq("query_id"))
      .join(broadcast(bestPos), Seq("query_id"), "left")
      .select(col("query_id"), col("label"), col("neg_id"), col("rank"),
        col("sim_r"), round(col("pos_sim"), 9).as("pos_sim_r"))
      .orderBy("query_id", "rank")
  }

  /** q180 oracle: q167's cosine CTEs with the label predicate negated
    * for the candidate arm and an equi-label MAX for the positive arm. */
  def hardNegativesOracleSql: String =
    s"""WITH v AS (SELECT vec_id, label,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      |  FROM embeddings WHERE embedding IS NOT NULL AND label IS NOT NULL),
      |n AS (SELECT vec_id, label, e,
      |  sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |    list_transform(range(1, len(e)+1), i -> e[i]*e[i])), (x,y) -> x+y)) AS nrm FROM v),
      |p AS (SELECT q.vec_id AS query_id, q.label AS label, c.vec_id AS neg_id,
      |  list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |    list_transform(range(1, len(q.e)+1), i -> q.e[i]*c.e[i])), (x,y) -> x+y)
      |   / (q.nrm * c.nrm) AS sim
      |  FROM n q JOIN n c ON q.label <> c.label AND q.vec_id < 10),
      |r AS (SELECT query_id, label, neg_id, sim,
      |  ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neg_id) AS rank
      |  FROM p),
      |pos AS (SELECT q.vec_id AS query_id, MAX(
      |  list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |    list_transform(range(1, len(q.e)+1), i -> q.e[i]*c.e[i])), (x,y) -> x+y)
      |   / (q.nrm * c.nrm)) AS pos_sim
      |  FROM n q JOIN n c ON q.label = c.label AND q.vec_id < 10
      |    AND q.vec_id <> c.vec_id GROUP BY 1)
      |SELECT r.query_id, r.label, r.neg_id, r.rank, ROUND(r.sim, 9) AS sim_r,
      |  ROUND(pos.pos_sim, 9) AS pos_sim_r
      |FROM r LEFT JOIN pos ON r.query_id = pos.query_id
      |WHERE r.rank <= $HardNegK ORDER BY r.query_id, r.rank""".stripMargin
}
