package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.VectorOps._

/** Deduplication family for a training-data pipeline.
  *
  * Reference analog: Qdrant semantic dedup — cosine ≥ 0.97 on the image
  * vector inherits the neighbor's canonical_id, else a new one
  * (deduplicate_from_qdrant.py:17,160-186). Here the clustering rule is
  * the order-independent "canonical = min id over the ≥τ neighborhood
  * (including self)", which a distributed engine can compute without the
  * reference's sequential greedy scan.
  *
  * Each operator has a frame-based core (bring your own
  * `documents(doc_id, text)` / `embeddings(vec_id, embedding)` frame) and
  * a `(spark, testDir)` wrapper for the driver contract.
  *
  * Scale notes:
  *  - exact dedup is ONE hash shuffle on the content hash — no pairwise
  *    work, the pattern that survives 100 TB unchanged.
  *  - embedding near-dup as written is the exact O(n²) pair join used for
  *    oracle parity at test SF; at cluster scale use
  *    [[nearDupPairsBlocked]] — the same verification join restricted to
  *    sign-LSH buckets.
  */
object Dedup {

  /** q22: exact duplicate clusters via md5 of normalized text; canonical
    * member = min doc_id of the cluster. */
  def exact(s: SparkSession, dir: String): DataFrame = exact(Tables.documents(s, dir))

  def exact(docs: DataFrame): DataFrame = {
    val hashed = docs
      .select(col("doc_id"),
        md5(TextAnalysis.lowerX(trim(col("text")))).as("content_hash"))
    val clusters = hashed.groupBy(col("content_hash"))
      .agg(min(col("doc_id")).as("canonical_id"), count(lit(1)).as("cluster_size"))
      .withColumnRenamed("content_hash", "__cluster_hash")
    // null-safe join: null-text rows form their own cluster instead of
    // silently dropping out of the result
    hashed.join(clusters, col("content_hash") <=> col("__cluster_hash"))
      .select("doc_id", "content_hash", "canonical_id", "cluster_size")
      .orderBy("doc_id")
  }

  /** The canonical text form exact dedup hashes: Unicode NFC (native
    * [[org.apache.spark.sql.graftbridge.NfcNormalize]] kernel) → trim →
    * lowercase → whitespace runs collapsed to one space. Without NFC,
    * visually-identical strings with different codepoint sequences
    * (é = U+00E9 vs e + combining U+0301 — endemic in scraped web text)
    * hash differently and every such duplicate silently survives.
    *
    * The whitespace class is an EXPLICIT ASCII set, not `\s`: Java's `\s`
    * includes U+000B (vertical tab) while RE2's (the oracle engine's)
    * does not, so `\s` on both sides still canonicalizes a document
    * containing U+000B differently in engine vs oracle. The explicit
    * class is engine-independent. Unicode spaces (U+00A0 …) are
    * deliberately NOT collapsed — scraped text uses NBSP as a
    * significant layout character, and NFC never rewrites them. */
  private[graft] val canonicalWsClass = "[ \\t\\n\\x0B\\f\\r]+"

  def canonicalText(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.graftbridge.{ColumnBridge, NfcNormalize}
    val nfc = ColumnBridge.column(NfcNormalize(ColumnBridge.expression(text)))
    // lowerX, not lower: İ/final-sigma case mappings diverge between
    // engines (see TextAnalysis.lowerX) — NFC runs first so a decomposed
    // I + combining-dot composes to İ before the fold
    regexp_replace(TextAnalysis.lowerX(trim(nfc)), canonicalWsClass, " ")
  }

  /** q102: exact dedup over the CANONICALIZED text — q22's one-hash-
    * shuffle pattern (narrow codegen'd canonicalization projection, one
    * shuffle on the hash), but robust to the representation noise real
    * corpora carry: combining-mark encodings, case, runs of whitespace. */
  def exactCanonical(s: SparkSession, dir: String): DataFrame =
    exactCanonical(Tables.documents(s, dir))

  def exactCanonical(docs: DataFrame): DataFrame = {
    val hashed = docs
      .select(col("doc_id"), md5(canonicalText(col("text"))).as("canon_hash"))
    val clusters = hashed.groupBy(col("canon_hash"))
      .agg(min(col("doc_id")).as("canonical_id"), count(lit(1)).as("cluster_size"))
      .withColumnRenamed("canon_hash", "__cluster_hash")
    hashed.join(clusters, col("canon_hash") <=> col("__cluster_hash"))
      .select("doc_id", "canon_hash", "canonical_id", "cluster_size")
      .orderBy("doc_id")
  }

  /** q102 oracle: the same canonical form via DuckDB's nfc_normalize.
    * The whitespace class matches [[canonicalWsClass]] character for
    * character (see its doc for why `\s` would NOT be equivalent). */
  val exactCanonicalOracleSql: String =
    """WITH d AS (SELECT doc_id,
      |  md5(regexp_replace(translate(lower(trim(nfc_normalize(text))), 'ς', 'σ'), '[ \t\n\x0B\f\r]+', ' ', 'g')) AS canon_hash
      |  FROM documents),
      |c AS (SELECT canon_hash AS ch, MIN(doc_id) AS canonical_id,
      |  COUNT(*) AS cluster_size FROM d GROUP BY canon_hash)
      |SELECT doc_id, canon_hash, canonical_id, cluster_size
      |FROM d JOIN c ON d.canon_hash IS NOT DISTINCT FROM c.ch
      |ORDER BY doc_id""".stripMargin

  /** All vecs with embedding cast to double + precomputed norm. */
  def normalized(s: SparkSession, dir: String): DataFrame = normalized(Tables.embeddings(s, dir))

  def normalized(embeddings: DataFrame): DataFrame =
    embeddings
      // a NULL embedding is not a vector: every vector operator drops it
      // at the scan (the oracles' base CTEs filter identically) — without
      // this, a 100 TB corpus's failed-to-compute rows poison collected
      // centroid models and emit NULL-similarity rows
      .where(col("embedding").isNotNull)
      .select(col("vec_id"), toDouble(col("embedding")).as("e"))
      .withColumn("nrm", norm(col("e")))

  /** ≥τ cosine pairs (a_id < b_id). */
  def nearDupPairs(s: SparkSession, dir: String, tau: Double): DataFrame =
    nearDupPairs(Tables.embeddings(s, dir), tau)

  def nearDupPairs(embeddings: DataFrame, tau: Double): DataFrame = {
    val v = normalized(embeddings)
    val a = v.select(col("vec_id").as("a_id"), col("e").as("ea"), col("nrm").as("na"))
    val b = v.select(col("vec_id").as("b_id"), col("e").as("eb"), col("nrm").as("nb"))
    a.join(b, col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        cosinePre(col("ea"), col("eb"), col("na"), col("nb")).as("sim"))
      .filter(col("sim") >= tau)
  }

  /** LSH-blocked ≥τ cosine pairs: identical scoring join but restricted
    * to pairs sharing ≥1 of their [[Similarity.LshTables]] sign-LSH
    * buckets — the 100 TB path (per-table work n²/2^bits; the OR over
    * tables holds recall as the bit ladder grows with the corpus —
    * see [[Similarity.LshTables]], the round-11 audit). A pair
    * colliding in several tables scores once per colliding table and
    * dedupes on (a_id, b_id) AFTER the τ filter — sim is pair-pure, so
    * post-filter dedup is value-identical and runs on ~2 % of the rows
    * (the inner comment). Output ⊆ the exact pairs; the spec pins
    * planted near-dups to survive blocking. */
  def nearDupPairsBlocked(s: SparkSession, dir: String, tau: Double, bits: Int): DataFrame =
    nearDupPairsBlocked(Tables.embeddings(s, dir), tau, bits)

  def nearDupPairsBlocked(embeddings: DataFrame, tau: Double, bits: Int,
      tables: Int = Similarity.LshTables): DataFrame = {
    // payloads ride the EXPLODED (tbl, bucket) rows — L slim copies of
    // each vector (L·n rows) — so scoring happens INSIDE the pipelined
    // collision join and no pair row ever carries an array through an
    // exchange. The first multi-table cut materialized candidate pairs
    // and fetched payloads after: the second fetch shuffled |pairs| ×
    // 544 B ≈ 31 GB at sf10 (q40 measured 99 s isolated); this shape
    // shuffles L·|corpus| × 544 B ≈ 0.9 GB and the 57M cosines are
    // codegen-pipelined. Dedup runs on the τ-FILTERED output (sim is a
    // pure function of the pair, so post-filter dropDuplicates is
    // value-identical to pre-scoring dedup and operates on ~2 % of the
    // rows).
    val v = normalized(embeddings)
    val w = v.select(col("vec_id"), col("e"), col("nrm"),
        posexplode(Similarity.multiBuckets(col("e"), bits, tables)))
      .select(col("vec_id"), col("e"), col("nrm"),
        col("pos").as("tbl"), col("col").as("bucket"))
    val a = w.select(col("vec_id").as("a_id"), col("e").as("ea"),
      col("nrm").as("na"), col("tbl"), col("bucket"))
    val b = w.select(col("vec_id").as("b_id"), col("e").as("eb"),
      col("nrm").as("nb"), col("tbl"), col("bucket"))
    a.join(b, Seq("tbl", "bucket")).filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        cosinePre(col("ea"), col("eb"), col("na"), col("nb")).as("sim"))
      .filter(col("sim") >= tau)
      .dropDuplicates("a_id", "b_id")
  }

  /** q40 parameters: τ low enough that the test corpus (near-random
    * vectors, max pairwise cosine ≈ 0.5) yields real pairs, 16 buckets. */
  val BlockedTau = 0.35
  val BlockedBits = 4

  /** q40: the oracle-gated blocked near-dup scale path —
    * [[nearDupPairsBlocked]] pairs at τ=0.35 within corpus-scaled
    * multi-table sign-LSH buckets ([[Similarity.multiTableBits]] from
    * [[BlockedBits]] — the sf10 lesson: 16 fixed buckets cost 58 s at
    * 100× data; the [[Similarity.LshTables]]-way OR holds recall as
    * the ladder grows). The DuckDB oracle bakes the same hyperplanes
    * in AND re-derives the same bit count from the same row count, so
    * the bucket restriction and the sizing ladder are both
    * value-checked. */
  def embeddingBlockedPairs(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val bits = Similarity.multiTableBits(
      Tables.cachedCount(s, dir, "emb_nonnull")(normalized(emb).count()),
      BlockedBits)
    nearDupPairsBlocked(emb, BlockedTau, bits)
      .select(col("a_id"), col("b_id"), round(col("sim"), 9).as("sim_r"))
      .orderBy("a_id", "b_id")
  }

  /** Generated DuckDB oracle for q40 (same planes → same L per-table
    * buckets, same count → same bit count; the OR-join pairs each
    * candidate once, mirroring the Spark side's dropDuplicates). */
  def embeddingBlockedOracleSql: String = {
    val bitsExpr =
      Similarity.multiTableBitsSql("(SELECT COUNT(*) FROM v)", BlockedBits)
    val bcols = (0 until Similarity.LshTables).map(t =>
      s"${Similarity.tableBucketSqlExpr(t, bitsExpr)} AS b$t").mkString(",\n  ")
    val orCond = (0 until Similarity.LshTables)
      .map(t => s"a.b$t = b.b$t").mkString(" OR ")
    s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings WHERE embedding IS NOT NULL),
       |n AS (SELECT vec_id, e,
       |  sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |    list_transform(range(1, len(e)+1), i -> e[i]*e[i])), (x,y) -> x+y)) AS nrm,
       |  $bcols FROM v),
       |p AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id,
       |  list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |    list_transform(range(1, len(a.e)+1), i -> a.e[i]*b.e[i])), (x,y) -> x+y)
       |   / (a.nrm * b.nrm) AS sim
       |  FROM n a JOIN n b ON a.vec_id < b.vec_id AND ($orCond))
       |SELECT a_id, b_id, ROUND(sim, 9) AS sim_r
       |FROM p WHERE sim >= $BlockedTau ORDER BY a_id, b_id""".stripMargin
  }

  /** q42 parameters: 4 buckets keeps cross-split candidates plentiful on
    * the near-random test vectors; τ=0.30 yields real matches at every SF. */
  val IncrementalTau = 0.30
  val IncrementalBits = 2

  /** Incremental corpus dedup — the reference's daily-ingest shape
    * (deduplicate_from_qdrant.py:160-186, batch loop :224-310): each new
    * batch vector is compared ONLY against the already-validated corpus
    * (never batch-vs-batch), inherits the best-matching corpus vector's
    * canonical id when cosine ≥ τ, else keeps its own id as a new
    * canonical. "Best" = highest similarity, ties to the lowest corpus id
    * — deterministic, unlike the reference's greedy first-match scan.
    *
    * Scale shape: corpus and batch meet on slim (table, bucket) sign-LSH
    * rows (an equi-join — no pairwise scan of the corpus, and the
    * [[Similarity.LshTables]]-way OR holds match recall as the bit
    * ladder grows), then a bounded-heap top-1 per batch vector; at
    * 100 TB the corpus side is the big one and the bucket key keeps the
    * shuffle balanced. */
  def dedupIncremental(corpus: DataFrame, batch: DataFrame, tau: Double,
      bits: Int, dim: Int = Similarity.Dim): DataFrame =
    dedupIncrementalPre(corpusSideEmb(corpus, bits, dim), batch, tau, bits, dim)

  /** The derived corpus-side table (__cand_id, ec, nc, bkts) the
    * incremental join probes — the piece worth PERSISTING: at
    * daily-ingest scale the validated corpus is huge and append-mostly,
    * so recomputing its norms and LSH buckets per batch run is the
    * dominant wasted cost. `bkts` is the [[Similarity.LshTables]]-slot
    * per-table bucket array (stored once per vector; the probe join
    * explodes it to slim rows so the vector payload never rides the
    * candidate shuffle). Everything in it is deterministic doubles/
    * ints, so a parquet round-trip is value-exact. */
  def corpusSideEmb(corpus: DataFrame, bits: Int,
      dim: Int = Similarity.Dim): DataFrame =
    normalized(corpus)
      .withColumn("bkts", Similarity.multiBuckets(col("e"), bits, dim = dim))
      .select(col("vec_id").as("__cand_id"), col("e").as("ec"), col("nrm").as("nc"),
        col("bkts"))

  /** [[dedupIncremental]] against an already-derived (possibly
    * artifact-stored) corpus side. Both sides explode to
    * payload-carrying (tbl, bucket) rows so scoring is pipelined
    * inside the collision join (the q40 round-11 lesson: fetching
    * payloads per candidate pair shuffles |pairs|·544 B); the
    * τ-filtered matches dedupe on (vec_id, __cand_id) — sim is
    * pair-pure, so post-scoring dedup is value-identical — before the
    * top-1 heap.
    *
    * The BATCH side additionally probes each table's weakest-margin
    * flip bucket ([[Similarity.multiProbeBuckets]], 2L rows per batch
    * vector vs the corpus's L) — the round-12 retention fix: at τ
    * well below the near-dup point a match's planes disagree often,
    * and the single most-likely disagreement is the batch vector's
    * lowest-|margin| plane; probing it roughly doubles candidate
    * volume (batch side only — the cheap side at daily-ingest scale)
    * and lifted matched-vector retention from 0.72/0.89/0.79 to
    * 1.0/1.0/0.996 at sf0.1/1/10 in tools/BlockedRecallAudit (densest
    * audited samples; 0.91/0.99/0.95 at the sparser round-11 sampling
    * schedule — sampled retention is a LOWER bound on production
    * retention, since the full corpus match set is a superset of any
    * sample's). Measured candidate volume 1.98× base at every SF. */
  def dedupIncrementalPre(c: DataFrame, batch: DataFrame, tau: Double,
      bits: Int, dim: Int = Similarity.Dim): DataFrame = {
    val tables = Similarity.LshTables
    val b = normalized(batch)
      .select(col("vec_id"), col("e").as("eb"), col("nrm").as("nb"),
        posexplode(Similarity.multiProbeBuckets(col("e"), bits, dim = dim)))
      .select(col("vec_id"), col("eb"), col("nb"),
        (col("pos") % tables).as("tbl"), col("col").as("bucket"))
    val cSlim = c.select(col("__cand_id"), col("ec"), col("nc"),
        posexplode(col("bkts")))
      .select(col("__cand_id"), col("ec"), col("nc"),
        col("pos").as("tbl"), col("col").as("bucket"))
    val matches = b.join(cSlim, Seq("tbl", "bucket"))
      .select(col("vec_id"), col("__cand_id"),
        cosinePre(col("eb"), col("ec"), col("nb"), col("nc")).as("sim"))
      .filter(col("sim") >= tau)
    // multi-table duplicates dedupe INSIDE the top-1 heap (sim is
    // pair-pure) — no dropDuplicates exchange before the aggregate
    val best = Similarity.explodeTopKPerGroup(matches, "vec_id", "match_id", 1,
      distinctIds = true)
    batch.select(col("vec_id"))
      .join(best, Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("match_id"), col("vec_id")).as("canonical_id"),
        when(col("match_id").isNull, 0L).otherwise(1L).as("matched"),
        coalesce(col("sim_r"), lit(-1.0)).as("best_sim_r"))
      .orderBy("vec_id")
  }

  /** q42: [[dedupIncremental]] over a deterministic corpus/batch split of
    * the embeddings table (validated corpus = vec_id % 5 ≠ 0). The
    * corpus side is a build-once [[graft.ArtifactStore]] table (same
    * pattern as the q23 pair table and q72 IVF index): a daily-ingest
    * pipeline pays the corpus normalize+bucket ONCE per corpus state,
    * not once per batch run. */
  def dedupIncrementalQ(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val corpusRaw = emb.filter(col("vec_id") % 5 =!= 0)
    // corpus-scaled bit count (the sf10 lesson: 4 fixed buckets cost
    // 109 s at 100× data); the batch side MUST hash with the corpus's
    // bit count, so bits derive from the corpus row count — the same
    // count the oracle re-derives in SQL
    val bits = Similarity.multiTableBits(
      Tables.cachedCount(s, dir, "emb_nonnull_mod5ne0")(
        normalized(corpusRaw).count()),
      IncrementalBits)
    // v3: the corpus side carries the LshTables-slot bucket array; the
    // schedule rides the fingerprint so a bits/tables change can never
    // serve a stale bucketing
    val corpusPath = graft.ArtifactStore.ensureCurrent(s, "inc_corpus_emb_v3",
      Tables.dirFingerprint(s, dir,
        s"incdedup;bits=$bits;tables=${Similarity.LshTables}")) { staging =>
      graft.ArtifactStore.writeTable(corpusSideEmb(corpusRaw, bits), staging)
    }
    dedupIncrementalPre(graft.ArtifactStore.readTable(s, corpusPath),
      emb.filter(col("vec_id") % 5 === 0), IncrementalTau, bits)
  }

  /** Generated DuckDB oracle for q42 (same planes → same L per-table
    * buckets, same split, same corpus count → same corpus-scaled bit
    * count on both sides, same margins → same batch-side probe buckets;
    * the OR-join admits each candidate once). The ladder materializes
    * in the 1-row `bb` CTE because the probe argmin captures the bit
    * count inside a list lambda, where a scalar subquery can't go. */
  def dedupIncrementalOracleSql: String = {
    val bitsExpr = Similarity.multiTableBitsSql(
      "(SELECT COUNT(*) FROM v WHERE vec_id % 5 <> 0)", IncrementalBits)
    val bcols = (0 until Similarity.LshTables).map(t =>
      s"${Similarity.tableBucketSqlExpr(t, "nb")} AS b$t").mkString(",\n  ")
    val pcols = (0 until Similarity.LshTables).map(t =>
      s"${Similarity.tableProbeBucketSqlExpr(t, "nb", s"b$t")} AS p$t")
      .mkString(",\n  ")
    val orCond = (0 until Similarity.LshTables)
      .map(t => s"bt.b$t = c.b$t OR bt.p$t = c.b$t").mkString(" OR ")
    s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings WHERE embedding IS NOT NULL),
       |bb AS (SELECT $bitsExpr AS nb),
       |n AS (SELECT vec_id, e,
       |  sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |    list_transform(range(1, len(e)+1), i -> e[i]*e[i])), (x,y) -> x+y)) AS nrm,
       |  nb,
       |  $bcols FROM v, bb),
       |q AS (SELECT vec_id, e, nrm,
       |  ${(0 until Similarity.LshTables).map(t => s"b$t").mkString(", ")},
       |  $pcols FROM n WHERE vec_id % 5 = 0),
       |p AS (SELECT bt.vec_id AS vec_id, c.vec_id AS cand_id,
       |  list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |    list_transform(range(1, len(bt.e)+1), i -> bt.e[i]*c.e[i])), (x,y) -> x+y)
       |   / (bt.nrm * c.nrm) AS sim
       |  FROM q bt JOIN n c ON ($orCond)
       |  WHERE c.vec_id % 5 <> 0),
       |m AS (SELECT vec_id, cand_id, sim,
       |  ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, cand_id) AS rn
       |  FROM p WHERE sim >= $IncrementalTau),
       |best AS (SELECT vec_id, cand_id, sim FROM m WHERE rn = 1)
       |SELECT b.vec_id,
       |  COALESCE(best.cand_id, b.vec_id) AS canonical_id,
       |  CAST(CASE WHEN best.cand_id IS NULL THEN 0 ELSE 1 END AS BIGINT) AS matched,
       |  COALESCE(ROUND(best.sim, 9), -1.0) AS best_sim_r
       |FROM (SELECT vec_id FROM embeddings WHERE vec_id % 5 = 0) b
       |LEFT JOIN best USING (vec_id) ORDER BY vec_id""".stripMargin
  }

  /** q26: embedding near-dup — per-vector canonical id = min vec_id over
    * its cosine ≥ 0.97 neighborhood (self included), plus neighbor count. */
  def embeddingThreshold(s: SparkSession, dir: String): DataFrame =
    embeddingThreshold(Tables.embeddings(s, dir))

  def embeddingThreshold(embeddings: DataFrame): DataFrame = {
    val pairs = nearDupPairs(embeddings, 0.97)
    val neighbors = pairs.select(col("a_id").as("vec_id"), col("b_id").as("nbr"))
      .unionByName(pairs.select(col("b_id").as("vec_id"), col("a_id").as("nbr")))
    val agg = neighbors.groupBy(col("vec_id"))
      .agg(min(col("nbr")).as("min_nbr"), count(lit(1)).as("n_neighbors"))
    // enumerate only real vectors (NULL embeddings drop at the scan,
    // same policy as normalized — the oracle filters identically)
    embeddings.where(col("embedding").isNotNull).select(col("vec_id"))
      .join(agg, Seq("vec_id"), "left")
      .select(col("vec_id"),
        least(col("vec_id"), coalesce(col("min_nbr"), col("vec_id"))).as("canonical_id"),
        coalesce(col("n_neighbors"), lit(0L)).as("n_neighbors"))
      .orderBy("vec_id")
  }
}
