package graft

import org.apache.spark.sql.functions._
import graft.operators._

/** The library surface users actually call: operators over their own
  * DataFrames, no test-directory layout required. */
class FrameApiSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog", "en", "web"),
    (2L, "the quick brown fox jumps over the lazy dog", "en", "crawl"),
    (3L, "completely different text with other words here", "en", "web"))
    .toDF("doc_id", "text", "lang", "source")
    .withColumn("n_chars", length(col("text")).cast("long"))

  test("exact dedup clusters identical texts from a user frame") {
    val out = Dedup.exact(docs).collect()
    val c = out.map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("canonical_id")).toMap
    assert(c(1L) === 1L && c(2L) === 1L && c(3L) === 3L)
    assert(out.find(_.getAs[Long]("doc_id") == 1L).get.getAs[Long]("cluster_size") === 2L)
  }

  test("ngram jaccard finds the duplicate pair from a user frame") {
    val pairs = ApproxDedup.ngramJaccard(docs).collect()
      .map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"), r.getAs[Double]("jaccard")))
    assert(pairs.toSeq === Seq((1L, 2L, 1.0)))
  }

  test("text analysis runs on a user frame") {
    val fp = TextAnalysis.fingerprint(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("fingerprint")).toMap
    assert(fp(1L) === fp(2L)) // same text, same fingerprint
    assert(fp(1L) !== fp(3L))
    assert(TextAnalysis.qualityScore(docs).count() === 3)
  }

  test("null/empty text flows through dedup and text analysis without errors") {
    val messy = Seq(
      (1L, Some("normal text here okay"), "en", "web"),
      (2L, None, "en", "web"),
      (3L, Some(""), "en", "web"),
      (4L, Some("ab"), "en", "web"))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", coalesce(length(col("text")).cast("long"), lit(0L)))
    // shingling: null → null row dropped by size guard; short → empty set
    val sh = ApproxDedup.shingleSets(messy).collect()
      .map(r => r.getLong(0) -> Option(r.get(1)).map(_ => r.getSeq[String](1))).toMap
    assert(sh(1L).get.nonEmpty)
    assert(sh(2L).isEmpty)          // null text → null shingles
    assert(sh(3L).get.isEmpty)      // empty text → empty set
    assert(sh(4L).get.isEmpty)      // < 3 words → empty set
    // pair search and exact dedup don't throw on the messy frame
    assert(ApproxDedup.ngramJaccard(messy).count() === 0)
    assert(Dedup.exact(messy).count() === 4)
    assert(TextAnalysis.tokenCount(messy).count() === 4)
  }

  test("facet search composes pushable equality/IN/array-contains filters") {
    import graft.operators.Serving._
    val items = Seq(
      (1L, "painting", "italy", Seq("renaissance", "oil")),
      (2L, "sculpture", "france", Seq("modern")),
      (3L, "painting", "france", Seq("oil", "portrait")))
      .toDF("id", "kind", "country", "tags")
    val hits = facetSearch(items, Seq(
      Eq("kind", "painting"), In("country", Seq("france", "spain")),
      ArrayContains("tags", "oil")))
      .collect().map(_.getLong(0))
    assert(hits.toSeq === Seq(3L))
  }

  test("combined vector and l2 normalization behave like the reference's embedding math") {
    import graft.functions.VectorOps
    val df = Seq((Array(3.0, 0.0), Array(0.0, 4.0))).toDF("img", "txt")
    val row = df.select(
      VectorOps.combined(col("img"), col("txt")).as("c"),
      VectorOps.l2Normalize(VectorOps.combined(col("img"), col("txt"))).as("n"))
      .collect()(0)
    assert(row.getSeq[Double](0) === Seq(3.0, 0.0, 0.0, 4.0))
    assert(row.getSeq[Double](1) === Seq(0.6, 0.0, 0.0, 0.8))
  }

  test("similarity search runs on a user embeddings frame") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.9f, 0.1f)),
      (2L, Array(0.0f, 1.0f)), (11L, Array(0.1f, 0.9f)))
      .toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(vecs).collect()
      .filter(r => r.getAs[Long]("query_id") === 0L && r.getAs[Int]("rank") === 1)
    assert(top.head.getAs[Long]("neighbor_id") === 1L)
  }

  test("q119: salient-term cap, pair lift, and the longest-first cut") {
    import spark.implicits._
    // docs 1/2/3 share {alpha,bravo} (distinct per doc): c12=3; alpha
    // also appears in doc 4 so c1=4, bravo c2=3; N=5 docs carry at
    // least one salient term -> lift = 3*5/(4*3) = 1.25.
    // doc 5 has SEVEN salient words; only the 5 longest survive the
    // cap, so the two 5-char words (abcde, vwxyz) must be absent.
    val docs = Seq(
      (1L, "alpha bravo noise x"),
      (2L, "bravo alpha alpha"),
      (3L, "alpha bravo"),
      (4L, "alpha zulu!"),
      (5L, "abcde vwxyz sixsix sevens eights nineni tennin")
    ).map { case (id, t) => (id, t) }.toDF("doc_id", "text")
    // zulu! fails [a-z]{5,} (punctuation); "noise"/"zulu" < 5 or non-match
    val out = graft.operators.Serving.relatedTerms(docs).collect()
      .map(r => ((r.getAs[String]("w1"), r.getAs[String]("w2")),
        (r.getAs[Long]("c12"), r.getAs[Long]("c1"), r.getAs[Long]("c2"),
         r.getAs[Double]("lift_r")))).toMap
    val ab = out(("alpha", "bravo"))
    assert(ab._1 === 3L && ab._2 === 4L && ab._3 === 3L)
    // lift = c12*N/(c1*c2) = 3*5/(4*3) = 1.25 ... N = docs with terms
    assert(math.abs(ab._4 - 1.25) < 1e-9, s"lift ${ab._4}")
    val capped = out.keySet.flatMap(p => Set(p._1, p._2))
    assert(!capped.contains("abcde") && !capped.contains("vwxyz"),
      s"5-char words must lose the longest-first cut in doc 5: $capped")
    assert(capped.contains("sixsix") && capped.contains("sevens"))
  }

  test("q172 wilson: small perfect sample ranks below a large near-perfect one") {
    import spark.implicits._
    // user 1: 1/1 clicks (raw CTR 1.0); user 2: 95/100 (raw CTR 0.95) —
    // the Wilson lower bound must invert the raw-CTR order
    val ev = (Seq.fill(1)((1L, "click")) ++
      Seq.fill(95)((2L, "click")) ++ Seq.fill(5)((2L, "view")) ++
      Seq.fill(3)((3L, "view")) ++           // 0/3: lb 0
      Seq.fill(2)((4L, "signup"))            // non-click/view: excluded
      ).toDF("user_id", "event_type")
    val out = Serving.wilsonRank(ev).collect()
      .map(r => (r.getAs[Long]("rank"), r.getAs[Long]("user_id"),
        r.getAs[Double]("ctr_r"), r.getAs[Double]("wilson_lb_r")))
    assert(out.map(_._2).toSeq === Seq(2L, 1L, 3L)) // user 4 never appears
    val byUser = out.map(t => t._2 -> t).toMap
    assert(byUser(2L)._3 === 0.95 && byUser(1L)._3 === 1.0)
    assert(byUser(2L)._4 > byUser(1L)._4)
    // closed form for n=1, s=1: lb = (1 + z²/2 − z·√(z²/4))/(1+z²) = 1/(1+z²)... × —
    // recompute exactly as the operator does
    val z2 = 1.96 * 1.96
    def lb(s: Long, n: Long): Double = {
      val p = s.toDouble / n.toDouble
      val v = (p + z2 / (2.0 * n) -
        1.96 * math.sqrt(p * (1.0 - p) / n + z2 / (4.0 * n * n))) / (1.0 + z2 / n)
      BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    assert(byUser(1L)._4 === lb(1, 1))
    assert(byUser(2L)._4 === lb(95, 100))
    assert(byUser(3L)._4 === lb(0, 3))
  }

  test("q172 wilson: leaderboard is bounded, ranks contiguous (corpus)") {
    val out = Serving.wilsonRank(spark, sfDir).collect()
    assert(out.nonEmpty && out.length <= Serving.WilsonTopN)
    assert(out.map(_.getAs[Long]("rank")).toSeq === (1L to out.length).toSeq)
    val lbs = out.map(_.getAs[Double]("wilson_lb_r"))
    assert(lbs.zip(lbs.tail).forall { case (a, b) => a >= b })
    out.foreach { r =>
      assert(r.getAs[Double]("wilson_lb_r") <= r.getAs[Double]("ctr_r") + 1e-9)
      assert(r.getAs[Long]("n_clicks") <= r.getAs[Long]("n_trials"))
    }
  }
}
