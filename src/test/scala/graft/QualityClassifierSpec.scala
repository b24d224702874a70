package graft

import graft.operators.QualityClassifier

/** Trained quality classifier (q217): separable-fixture learning, exact
  * fixed-point determinism, label rule, stride ladder. */
class QualityClassifierSpec extends SparkTestBase {
  import spark.implicits._

  // Two disjoint vocabularies whose hash buckets differ; sources make the
  // label follow the vocabulary (src0/src2 even = curated = good words).
  private def plantedDocs(nPerClass: Int) = {
    val rng = new scala.util.Random(7)
    val goodW = (0 until 8).map(i => s"good$i")
    val badW = (0 until 8).map(i => s"bad$i")
    (0 until nPerClass).flatMap { i =>
      Seq(
        (2L * i, (1 to 30).map(_ => goodW(rng.nextInt(8))).mkString(" "), "src0"),
        (2L * i + 1, (1 to 30).map(_ => badW(rng.nextInt(8))).mkString(" "), "src1"))
    }.toDF("doc_id", "text", "source")
  }

  test("q217: learns a separable planted fixture to accuracy 1.0 in 4 rounds") {
    val out = QualityClassifier.trainScore(plantedDocs(40)).collect()
    assert(out.length == 80)
    val acc = out.count(r =>
      r.getAs[Long]("pred") == r.getAs[Long]("label")).toDouble / out.length
    assert(acc == 1.0, s"planted fixture accuracy $acc < 1.0")
    // scores actually separate (not all sitting at the 1/2 boundary)
    val good = out.filter(_.getAs[Long]("label") == 1L).map(_.getAs[Long]("score_micro"))
    val bad = out.filter(_.getAs[Long]("label") == 0L).map(_.getAs[Long]("score_micro"))
    assert(good.min > 500000L && bad.max < 500000L)
  }

  test("q217: bitwise deterministic across partitioning") {
    val docs = plantedDocs(25)
    val a = QualityClassifier.trainScore(docs.repartition(1)).collect().toSeq
    val b = QualityClassifier.trainScore(docs.repartition(13)).collect().toSeq
    assert(a == b, "integer training must be partition-count invariant")
  }

  test("q217: label rule — even numeric source suffix is positive, " +
      "malformed/short suffixes land negative, null text/source drop") {
    val docs = Seq(
      (1L, "a b c", "src0"),   // even -> 1
      (2L, "a b c", "src11"),  // odd -> 0
      (3L, "a b c", "weird"),  // non-numeric suffix -> 0
      (4L, "a b c", "s"),      // too short -> 0
      (5L, null.asInstanceOf[String], "src0"), // dropped
      (6L, "a b c", null.asInstanceOf[String]), // dropped
      // the round-10 ADVICE divergence suffixes: decimal, scientific,
      // 19-digit, negative — the digits-only {1,18} regex rejects all
      // four IDENTICALLY in both engines (DuckDB would lenient-parse
      // '1.5'->2 and '1e3'->1000; Spark's old 18-char substring would
      // truncate the 19-digit one); leading zeros still parse
      (7L, "a b c", "src1.5"),
      (8L, "a b c", "src1e3"),
      (9L, "a b c", "src1000000000000000000"), // 19 digits, even
      (10L, "a b c", "src-2"),
      (11L, "a b c", "src0012") // leading zeros, 12 -> even -> 1
    ).toDF("doc_id", "text", "source")
    val out = QualityClassifier.trainScore(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("label")).toMap
    assert(out == Map(1L -> 1L, 2L -> 0L, 3L -> 0L, 4L -> 0L,
      7L -> 0L, 8L -> 0L, 9L -> 0L, 10L -> 0L, 11L -> 1L))
  }

  test("q217: an empty training stride (no rows, or only NULL/empty " +
      "text) returns an empty frame with the entry's schema") {
    val none = Seq.empty[(Long, String, String)].toDF("doc_id", "text", "source")
    val blank = Seq((1L, null.asInstanceOf[String], "src0"), (2L, "", "src2"),
      (3L, "   ", "src1")).toDF("doc_id", "text", "source")
    Seq(none, blank).foreach { docs =>
      val out = QualityClassifier.trainScore(docs)
      assert(out.schema.map(f => f.name -> f.dataType.simpleString) == Seq(
        "doc_id" -> "bigint", "label" -> "bigint",
        "score_micro" -> "bigint", "pred" -> "bigint"))
      assert(out.collect().isEmpty)
    }
  }

  test("q217: train stride ladder is bounded and matches its SQL twin") {
    import QualityClassifier._
    assert(trainMod(0L) == 1L)
    assert(trainMod(TrainTarget) == 1L)
    assert(trainMod(TrainTarget + 1) == 2L)
    Seq(1L, 500L, 500000L, 50000000L).foreach { n =>
      assert(n / trainMod(n) <= TrainTarget)
      val got = spark.sql(s"SELECT CAST(${trainModSql(n.toString)} AS BIGINT) AS v")
        .first().getLong(0)
      assert(got == trainMod(n), s"SQL stride ladder diverges at n=$n")
    }
  }

  test("q217: gated entry scores the fixture corpus with in-range scores") {
    val out = QualityClassifier.trainScore(spark, sfDir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val sc = r.getAs[Long]("score_micro")
      assert(sc > 0L && sc < 1000000L)
      assert(r.getAs[Long]("pred") == (if (sc >= 500000L) 1L else 0L))
    }
    val ids = out.map(_.getAs[Long]("doc_id")).toSeq
    assert(ids == ids.sorted)
  }
}
