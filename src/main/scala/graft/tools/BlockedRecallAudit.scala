package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{ApproxDedup, Dedup, Similarity, TextAnalysis}

/** At-scale sampled recall audits for the BLOCKED scale paths: the
  * LSH banding of the shared τ=0.8 pair table, the sign-LSH embedding
  * blocks behind q40/q41/q42 and the q215 containment banding. The
  * gates prove blocked == exact only at gated scale plus planted
  * fixtures, while the 100 TB target runs ungated; this tool turns the
  * at-scale recall into a measured NUMBER.
  *
  * Method: draw a deterministic md5Long(id) % mod == 0 sample —
  * unbiased w.r.t. id layout, and replayable in DuckDB SQL — compute
  * the EXACT truth within the sample (cheap: the quadratic exact twins
  * cost sample², not corpus²), and measure how much of it the blocking
  * at FULL-CORPUS granularity retains. A sample pair is a uniform draw
  * of true pairs with both endpoints sampled, so recovered/exact
  * estimates corpus-wide blocking recall.
  *
  *  - q40 (τ=0.35 blocked near-dup pairs): exact = all-pairs cosine ≥ τ
  *    within the vector sample; recovered = those pairs present in the
  *    FULL corpus `embeddingBlockedPairs` output (end-to-end: the
  *    production frame itself, which also bakes in the corpus-scaled
  *    bit count).
  *  - q41 (LSH-blocked 3-NN self-join): exact = top-3 edges within the
  *    sample; survived = edges whose endpoints share a sign-LSH bucket
  *    at the FULL-corpus-scaled bit count. Edge survival is the right
  *    metric here — an out-of-bucket true neighbor is unreachable at
  *    any k, while the full top-3 output is not sample-comparable (its
  *    candidates rank against the whole corpus).
  *  - q42 (incremental batch-vs-corpus dedup, τ=0.30): exact = all
  *    τ-matches between the sampled batch (vec_id % 5 == 0) and sampled
  *    corpus sides; survived = matches colliding in some table on the
  *    base bucket OR the batch side's weakest-margin probe (the
  *    round-12 production shape) at the corpus-scaled bit count; plus
  *    matched-vector retention (a batch vector flips to "new" only if
  *    ALL its matches are out-of-bucket — the user-visible failure)
  *    and the full-corpus candidate-volume counts base vs probed (the
  *    ≤2× budget evidence).
  *  - q215 (blocked containment): exact = q79's `containmentPairs` on
  *    the document sample; recovered = those ordered pairs present in
  *    the FULL corpus `containmentBlocked` artifact (end-to-end: bucket
  *    caps and hit floors act on full-corpus band buckets, so only the
  *    production table measures them honestly).
  *
  * Usage:
  *   sbt "runMain graft.tools.BlockedRecallAudit <sfDir> [mod] [families]"
  * families = comma list of q40,q41,q42,q215 (default: all four).
  * Opt-in families outside the default set: jpairs measures the shared
  * pair table's banding (jpairs_v3, q23 and its nine downstream graph
  * consumers; miss probability ~(1−J⁴)³² per true pair): exact =
  * within-sample τ-pairs by the exact-complete prefix-filter path,
  * recovered = those found by the banded builder over the full corpus;
  * q40plant plants cos≈0.97 near-dup copies and measures their recovery
  * at the corpus-scaled schedule — the production-regime number that
  * motivated the LshTables OR; q71 measures the incremental TEXT dedup's
  * natural batch-vs-corpus τ-match banding survival (plus matched-DOC
  * retention, the q42-style user-visible number); q71plant plants a
  * J≈0.85 perturbed batch copy of every corpus doc and runs it
  * end-to-end through dedupIncrementalTextPre.
  * Prints one JSON line per family:
  *   {"metric":"blocked_recall","family":…,"sample_n":…,"exact":…,
  *    "recovered":…,"recall_r":…}  (q42 adds matched-vector retention).
  * A zero `exact` emits "recall_r":null — an honest null, not a
  * measured 1.0 (raise the density via mod), as in the round-9 jpairs
  * runs. */
object BlockedRecallAudit {

  /** JSON value for recovered/exact: "null" when the denominator is
    * empty (a too-sparse sample must not print as perfect recall). */
  private def recallR(exact: Long, rec: Long): String =
    if (exact == 0) "null"
    else (math.rint(rec.toDouble / exact * 1e6) / 1e6).toString

  private def sampleIds(df: DataFrame, idCol: String, mod: Int): DataFrame =
    df.filter(TextAnalysis.md5Long(col(idCol).cast("string")) % mod === 0L)

  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val mod = if (args.length > 1) args(1).toInt else 16
    val families: Set[String] =
      if (args.length > 2) args(2).split(",").map(_.trim).toSet
      else Set("q40", "q41", "q42", "q215")
    val spark = graft.GraftSession.builder().getOrCreate()
    try {
      val emb = Tables.embeddings(spark, dir)
      lazy val fullN = Dedup.normalized(emb).count()
      lazy val sampleEmb = sampleIds(emb, "vec_id", mod).localCheckpoint()
      lazy val sampleDocs = sampleIds(Tables.documents(spark, dir), "doc_id", mod)
        .localCheckpoint()

      def emit(family: String, n: Long, exact: Long, rec: Long,
          extra: String = ""): Unit =
        println(s"""{"metric":"blocked_recall","family":"$family",""" +
          s""""mod":$mod,"sample_n":$n,"exact":$exact,"recovered":$rec,""" +
          s""""recall_r":${recallR(exact, rec)}$extra}""")

      if (families("q40")) {
        val nS = sampleEmb.count()
        val exact = Dedup.nearDupPairs(sampleEmb, Dedup.BlockedTau)
          .select("a_id", "b_id", "sim").localCheckpoint()
        val nExact = exact.count()
        val hit = exact.join(
          Dedup.embeddingBlockedPairs(spark, dir)
            .select(col("a_id"), col("b_id"), lit(1L).as("__hit")),
          Seq("a_id", "b_id"), "left")
          .select(col("sim"), coalesce(col("__hit"), lit(0L)).as("h"))
          .localCheckpoint()
        val rec = hit.filter(col("h") === 1L).count()
        emit("q40", nS, nExact, rec)
        // recall BY SIM DECILE: blocking recall is an S-curve in the
        // pair angle, so the overall number mixes the regime that
        // matters (true near-dups, sim ≥ 0.9) with the barely-similar
        // tail; this is the per-band readout
        hit.groupBy(floor(col("sim") * 10).cast("long").as("sim_decile"))
          .agg(count(lit(1)).as("n"), sum(col("h")).as("rec"))
          .orderBy("sim_decile").collect()
          .foreach { r =>
            val (d, n2, r2) = (r.getLong(0), r.getLong(1), r.getLong(2))
            println(s"""{"metric":"blocked_recall_band","family":"q40",""" +
              s""""sim_decile":$d,"exact":$n2,"recovered":$r2,""" +
              s""""recall_r":${recallR(n2, r2)}}""")
          }
      }

      if (families("q40plant")) {
        // The test corpus has NO high-sim pairs (max exact cosine ≈ 0.6
        // at sf10), so the regime that matters in production — true
        // near-dups — can't be measured from corpus pairs. Plant them:
        // for the 500 md5-lowest vec_ids, inject a perturbed copy at
        // cos ≈ 0.97 under a fresh id, run the SAME blocked pair path
        // at the corpus-scaled schedule, and measure planted-pair
        // recovery. This is the at-scale version of the spec's planted
        // fixture, at the REAL sf10 bit count.
        val v = Dedup.normalized(emb).localCheckpoint()
        val maxId = v.agg(max(col("vec_id"))).first().getLong(0)
        val seed = v.orderBy(TextAnalysis.md5Long(col("vec_id").cast("string")))
          .limit(500).localCheckpoint()
        val planes0 = Similarity.hyperplanesFor(1).head // fixed direction
        val pl = array(planes0.map(lit): _*)
        val planted = seed.select(
          (col("vec_id") + maxId + 1L).as("vec_id"),
          zip_with(col("e"), pl,
            (x, h) => x + h * col("nrm") * 0.0313).as("embedding"))
        val union = v.select(col("vec_id"), col("e").as("embedding"))
          .unionByName(planted).localCheckpoint()
        val n = union.count()
        // honest denominator: planted pairs whose EXACT cosine ≥ 0.9
        val np = Dedup.normalized(planted)
        val nExact = seed.select(col("vec_id"), col("e").as("ea"), col("nrm").as("na"))
          .join(np.select((col("vec_id") - maxId - 1L).as("vec_id"),
            col("e").as("eb"), col("nrm").as("nb")), Seq("vec_id"))
          .filter(graft.functions.VectorOps.cosinePre(col("ea"), col("eb"),
            col("na"), col("nb")) >= 0.9)
          .count()
        val bits = Similarity.multiTableBits(n, Dedup.BlockedBits)
        val rec = Dedup.nearDupPairsBlocked(union, 0.9, bits)
          .filter(col("b_id") > maxId && col("a_id") === col("b_id") - maxId - 1L)
          .count()
        emit("q40plant", n, nExact, rec, s""","bits":$bits""")
      }

      if (families("q41")) {
        val nS = sampleEmb.count()
        val bits = Similarity.multiTableBits(fullN)
        val buckets = Dedup.normalized(sampleEmb)
          .select(col("vec_id"),
            Similarity.multiBuckets(col("e"), bits).as("bkts"))
          .localCheckpoint()
        val edges = Similarity.knnJoin(sampleEmb).select("src_id", "nbr_id")
          .localCheckpoint()
        val nEdges = edges.count()
        // survival = collides in ≥1 of the L tables
        val survived = edges
          .join(buckets.select(col("vec_id").as("src_id"), col("bkts").as("ba")),
            Seq("src_id"))
          .join(buckets.select(col("vec_id").as("nbr_id"), col("bkts").as("bb")),
            Seq("nbr_id"))
          .filter(exists(zip_with(col("ba"), col("bb"), (x, y) => x === y),
            b => b)).count()
        emit("q41", nS, nEdges, survived, s""","bits":$bits""")
      }

      if (families("q42")) {
        // bit count derives from the FULL validated-corpus count,
        // exactly as dedupIncrementalQ computes it
        val L = Similarity.LshTables
        val corpusN = Dedup.normalized(emb.filter(col("vec_id") % 5 =!= 0)).count()
        val bits = Similarity.multiTableBits(corpusN, Dedup.IncrementalBits)
        // batch side carries the 2L-slot probed array (the production
        // shape since round 12); corpus side the L-slot base array
        val bS = Dedup.normalized(sampleEmb.filter(col("vec_id") % 5 === 0))
          .withColumn("bkts", Similarity.multiProbeBuckets(col("e"), bits))
          .localCheckpoint()
        val cS = Dedup.normalized(sampleEmb.filter(col("vec_id") % 5 =!= 0))
          .withColumn("bkts", Similarity.multiBuckets(col("e"), bits))
          .localCheckpoint()
        val nB = bS.count()
        // survival = some table t collides on the base bucket OR the
        // batch vector's weakest-margin probe of table t
        val survives = exists(sequence(lit(0), lit(L - 1)), t =>
          element_at(col("ba"), t + 1) === element_at(col("bb"), t + 1) ||
            element_at(col("ba"), t + lit(L + 1)) === element_at(col("bb"), t + 1))
        val matches = bS.select(col("vec_id"), col("e").as("eb"),
            col("nrm").as("nb"), col("bkts").as("ba"))
          .crossJoin(cS.select(col("vec_id").as("cand_id"), col("e").as("ec"),
            col("nrm").as("nc"), col("bkts").as("bb")))
          .withColumn("sim", graft.functions.VectorOps.cosinePre(
            col("eb"), col("ec"), col("nb"), col("nc")))
          .filter(col("sim") >= Dedup.IncrementalTau)
          .select(col("vec_id"), col("cand_id"), survives.as("inb"))
          .localCheckpoint()
        val nExact = matches.count()
        val rec = matches.filter(col("inb")).count()
        val vecsMatched = matches.select("vec_id").distinct().count()
        val vecsRetained = matches.filter(col("inb"))
          .select("vec_id").distinct().count()
        // candidate-volume evidence at FULL corpus granularity: the
        // production bucket-join row count with the probed batch side
        // vs the base-only batch side (the ≤2× budget check)
        val cSlim = Similarity.multiBucketRows(
          Dedup.normalized(emb.filter(col("vec_id") % 5 =!= 0)), bits)
        def batchRows(probed: Boolean) = {
          val arr = if (probed)
            Similarity.multiProbeBuckets(col("e"), bits)
          else Similarity.multiBuckets(col("e"), bits)
          Dedup.normalized(emb.filter(col("vec_id") % 5 === 0))
            .select(col("vec_id"), posexplode(arr))
            .select(col("vec_id"), (col("pos") % L).as("tbl"),
              col("col").as("bucket"))
        }
        val candBase = batchRows(probed = false)
          .join(cSlim.withColumnRenamed("vec_id", "cand_id"),
            Seq("tbl", "bucket")).count()
        val candProbe = batchRows(probed = true)
          .join(cSlim.withColumnRenamed("vec_id", "cand_id"),
            Seq("tbl", "bucket")).count()
        emit("q42", nB, nExact, rec,
          s""","bits":$bits,"vecs_matched":$vecsMatched""" +
            s""","vecs_retained":$vecsRetained""" +
            s""","vec_recall_r":${recallR(vecsMatched, vecsRetained)}""" +
            s""","cand_base":$candBase,"cand_probe":$candProbe""")
      }

      if (families("jpairs")) {
        val nS = sampleDocs.count()
        val exact = ApproxDedup.ngramJaccardPairs(sampleDocs)
          .select("a_id", "b_id").localCheckpoint()
        val nExact = exact.count()
        val rec = exact.join(
          ApproxDedup.minhashLshPairs(Tables.documents(spark, dir))
            .select("a_id", "b_id"),
          Seq("a_id", "b_id")).count()
        emit("jpairs", nS, nExact, rec)
      }

      if (families("q215")) {
        val nS = sampleDocs.count()
        val exact = ApproxDedup.containmentPairs(sampleDocs)
          .select("a_id", "b_id").localCheckpoint()
        val nExact = exact.count()
        val rec = exact.join(
          ApproxDedup.containmentBlocked(spark, dir).select("a_id", "b_id"),
          Seq("a_id", "b_id")).count()
        emit("q215", nS, nExact, rec)
      }

      if (families("q71") || families("q71plant")) {
        // shared corpus side: the production split's validated corpus
        // (doc_id < IncrementalCorpusMax — small and FIXED, so the
        // corpus side is exact-complete, not sampled) with its
        // production shingle sets and MinHash band rows
        val docs = Tables.documents(spark, dir)
        val cmax = ApproxDedup.IncrementalCorpusMax
        val shc = ApproxDedup.shingleSets(docs.filter(col("doc_id") < cmax))
          .filter(size(col("shingles")) > 0).localCheckpoint()
        val corBands = ApproxDedup
          .bandRows(shc, ApproxDedup.Bands, ApproxDedup.Rows)
          .select(col("doc_id").as("c_id"), col("band"), col("band_key"))
          .localCheckpoint()

        if (families("q71")) {
          // natural pairs: exact J ≥ τ matches between the SAMPLED
          // batch and the full corpus side, vs band-key survival.
          // Unlike q42's corpus-scaled bit ladder, the 32×4 banding
          // geometry is FIXED, so survival depends only on J — this
          // audit measures that the incremental path inherits the
          // jpairs banding recall rather than assuming it.
          val shb = ApproxDedup.shingleSets(
              sampleIds(docs.filter(col("doc_id") >= cmax), "doc_id", mod))
            .filter(size(col("shingles")) > 0).localCheckpoint()
          val nB = shb.count()
          // |intersection| via explode-join (shingle sets are distinct)
          // — scales as matching-shingle volume, not batch × corpus
          val common = shb
            .select(col("doc_id").as("b_id"), explode(col("shingles")).as("sh"))
            .join(shc.select(col("doc_id").as("c_id"),
              explode(col("shingles")).as("sh")), Seq("sh"))
            .groupBy("b_id", "c_id").agg(count(lit(1)).as("common"))
          val exact = common
            .join(shb.select(col("doc_id").as("b_id"),
              size(col("shingles")).as("nb")), Seq("b_id"))
            .join(shc.select(col("doc_id").as("c_id"),
              size(col("shingles")).as("nc")), Seq("c_id"))
            .filter(col("common").cast("double") /
              (col("nb") + col("nc") - col("common")).cast("double")
              >= ApproxDedup.Tau)
            .select("b_id", "c_id").localCheckpoint()
          val nExact = exact.count()
          val collide = ApproxDedup
            .bandRows(shb, ApproxDedup.Bands, ApproxDedup.Rows)
            .select(col("doc_id").as("b_id"), col("band"), col("band_key"))
            .join(corBands, Seq("band", "band_key"))
            .select("b_id", "c_id").dropDuplicates("b_id", "c_id")
          val hit = exact
            .join(collide.withColumn("__hit", lit(1L)), Seq("b_id", "c_id"), "left")
            .select(col("b_id"), coalesce(col("__hit"), lit(0L)).as("h"))
            .localCheckpoint()
          val rec = hit.filter(col("h") === 1L).count()
          val docsMatched = hit.select("b_id").distinct().count()
          val docsRetained = hit.filter(col("h") === 1L)
            .select("b_id").distinct().count()
          emit("q71", nB, nExact, rec,
            s""","docs_matched":$docsMatched,"docs_retained":$docsRetained""" +
              s""","doc_recall_r":${recallR(docsMatched, docsRetained)}""")
        }

        if (families("q71plant")) {
          // end-to-end production-regime check: plant a perturbed batch
          // copy of EVERY corpus doc (each word dropped when a
          // deterministic per-(doc, position) hash % 20 == 0 → ~5 % of
          // words gone → trigram J ≈ 0.85, just above τ = 0.8) and push
          // the planted batch through dedupIncrementalTextPre itself.
          // Retained = the planted doc deduplicates (matched = true);
          // src_match additionally pins canonical_id to the source doc.
          val maxId = docs.agg(max(col("doc_id"))).first().getLong(0)
          val base = maxId + 1L
          val planted = docs.filter(col("doc_id") < cmax)
            .select(col("doc_id"), TextAnalysis.words(col("text")).as("ws"))
            .select((col("doc_id") + base).as("doc_id"), concat_ws(" ",
              filter(col("ws"), (w, i) => TextAnalysis.md5Long(
                concat(col("doc_id").cast("string"), lit("_"),
                  i.cast("string"))) % 20 =!= 0L)).as("text"))
            .localCheckpoint()
          val nP = planted.count()
          // honest denominator: planted docs whose EXACT J vs source ≥ τ
          val jexact = ApproxDedup.shingleSets(planted)
            .filter(size(col("shingles")) > 0)
            .select((col("doc_id") - base).as("doc_id"), col("shingles").as("sp"))
            .join(shc.select(col("doc_id"), col("shingles").as("sc0")),
              Seq("doc_id"))
            .withColumn("common",
              size(array_intersect(col("sp"), col("sc0"))).cast("double"))
            .filter(col("common") /
              (size(col("sp")) + size(col("sc0")) - col("common")).cast("double")
              >= ApproxDedup.Tau)
            .select((col("doc_id") + base).as("doc_id")).localCheckpoint()
          val nExact = jexact.count()
          val out = ApproxDedup.dedupIncrementalTextPre(corBands,
              shc.select(col("doc_id").as("c_id"), col("shingles").as("sc")),
              planted, cmax)
            .join(jexact, Seq("doc_id"), "left_semi").localCheckpoint()
          val rec = out.filter(col("matched")).count()
          val srcMatch = out.filter(col("matched") &&
            col("canonical_id") === col("doc_id") - base).count()
          emit("q71plant", nP, nExact, rec, s""","src_match":$srcMatch""")
        }
      }
    } finally spark.stop()
  }
}
