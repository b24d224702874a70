package graft

import graft.operators.{LangClassifier, TextAnalysis}

/** Trained one-vs-rest langid classifier (q218): separable 3-language
  * planted fixture, determinism, abstention, heuristic-label agreement. */
class LangClassifierSpec extends SparkTestBase {
  import spark.implicits._

  // Three languages, each a disjoint content vocabulary PLUS its q30
  // function words, so the heuristic labels are clean and the hashed
  // bag-of-words is linearly separable per class.
  private def plantedDocs(nPerClass: Int) = {
    val rng = new scala.util.Random(11)
    val vocab = Map(
      "en" -> (Seq("the", "of", "and") ++ (0 until 6).map(i => s"encontent$i")),
      "es" -> (Seq("el", "que", "un") ++ (0 until 6).map(i => s"escontent$i")),
      "de" -> (Seq("der", "und", "nicht") ++ (0 until 6).map(i => s"decontent$i")))
    val langs = Seq("en", "es", "de")
    (0 until nPerClass).flatMap { i =>
      langs.zipWithIndex.map { case (l, j) =>
        val ws = vocab(l)
        (3L * i + j, (1 to 30).map(_ => ws(rng.nextInt(ws.size))).mkString(" "), l)
      }
    }.toDF("doc_id", "text", "lang")
  }

  test("q218: learns the planted 3-language fixture to heuristic agreement 1.0") {
    val out = LangClassifier.trainScore(plantedDocs(30)).collect()
    assert(out.length == 90)
    val agree = out.count(r =>
      r.getAs[String]("pred_lang") == r.getAs[String]("heur_lang"))
    assert(agree == out.length,
      s"trained prediction disagrees with the heuristic label on ${out.length - agree} docs")
    // each planted class actually appears as a heuristic label
    assert(out.map(_.getAs[String]("heur_lang")).toSet == Set("en", "es", "de"))
    // winning scores clear the abstention threshold
    out.foreach(r => assert(r.getAs[Long]("score_micro") >= 500000L))
  }

  test("q218: bitwise deterministic across partitioning") {
    val docs = plantedDocs(15)
    val a = LangClassifier.trainScore(docs.repartition(1)).collect().toSeq
    val b = LangClassifier.trainScore(docs.repartition(13)).collect().toSeq
    assert(a == b, "integer one-vs-rest training must be partition-count invariant")
  }

  test("q218: heuristic-unknown docs train as all-class negatives and the " +
      "argmax cascade follows q30's tie order") {
    val docs = plantedDocs(20).unionByName(
      Seq((900L, "zz yy xx ww vv uu tt ss", "")).toDF("doc_id", "text", "lang"))
    val out = LangClassifier.trainScore(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("heur_lang"), r.getAs[String]("pred_lang"))).toMap
    assert(out(900L)._1 == "unknown") // no function words -> heuristic abstains
    // the classes stay intact with the negative doc present
    assert(out.filterKeys(_ != 900L).forall { case (_, (h, p)) => h == p })
  }

  test("q218: an empty training stride (no rows, or only NULL/empty " +
      "text) returns an empty frame with the entry's schema") {
    val none = Seq.empty[(Long, String, String)].toDF("doc_id", "text", "lang")
    val blank = Seq((1L, null.asInstanceOf[String], "en"), (2L, "", "es"),
      (3L, "   ", "de")).toDF("doc_id", "text", "lang")
    Seq(none, blank).foreach { docs =>
      val out = LangClassifier.trainScore(docs)
      assert(out.schema.map(f => f.name -> f.dataType.simpleString) == Seq(
        "doc_id" -> "bigint", "heur_lang" -> "string",
        "pred_lang" -> "string", "score_micro" -> "bigint"))
      assert(out.collect().isEmpty)
    }
  }

  test("q218: classes list matches q30's profile order (the tie-break contract)") {
    assert(LangClassifier.Classes == TextAnalysis.profiles.map(_._1))
    assert(LangClassifier.Classes == Seq("en", "es", "de", "fr"))
  }

  test("q218: gated entry is in-range and sorted on the fixture corpus") {
    val out = LangClassifier.trainScore(spark, sfDir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val sc = r.getAs[Long]("score_micro")
      assert(sc > 0L && sc < 1000000L)
      assert(Set("en", "es", "de", "fr", "unknown")(r.getAs[String]("pred_lang")))
    }
    val ids = out.map(_.getAs[Long]("doc_id")).toSeq
    assert(ids == ids.sorted)
  }
}
