package graft

import org.apache.spark.graft.Codegen

/** Repeated passes reuse generated classes. Spark's generated-class cache
  * is JVM-wide LRU; at its default of 100 entries one curation request
  * (~160 classes) evicts each class before the next request asks for it,
  * so every pass recompiles. The third round is measured: round 1 builds
  * the artifacts that later rounds serve, which changes their plans, so
  * rounds 2 and 3 run the same plans and round 3 must find them all. */
class CodegenCacheSpec extends SparkTestBase {

  private val curation = Seq("q22_dedup_exact", "q24_dedup_minhash_lsh",
    "q46_dedup_cc", "q93_dedup_survivor", "q31_quality_score", "q30_lang_id",
    "q217_quality_classifier", "q59_semdedup", "q17_canonical_remap")

  /** Classes compiled while each query of one round runs, by query. */
  private def compiledDuringRound(): Seq[(String, Long)] =
    curation.map { q =>
      val before = Codegen.compilations
      SparkEntry.queries(q)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      q -> (Codegen.compilations - before)
    }

  test("the session's generated-class cache is graft's size") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ==
      GraftSession.codegenCacheEntries.toString)
  }

  // expected 0 (the parent's 100-entry cache: 142); the counter is
  // JVM-wide, so the bound leaves room for a class compiled by anything
  // else still running in the suite's JVM
  test("a third curation round compiles at most 2 classes") {
    val rounds = Seq.fill(3)(compiledDuringRound())
    def show(round: Seq[(String, Long)]) =
      s"${round.map(_._2).sum} (${round.filter(_._2 > 0).map { case (q, n) => s"$q $n" }.mkString(", ")})"
    val perRound = rounds.map(show).mkString("; ")
    info(s"compilations per round: $perRound")
    assert(rounds(2).map(_._2).sum <= 2, s"compilations per round: $perRound")
  }
}
