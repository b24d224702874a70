package graft

import org.apache.spark.sql.functions._
import graft.operators.KMeansOp

class KMeansSpec extends SparkTestBase {
  import spark.implicits._

  test("q63: planted blobs — members follow their prototype's cell") {
    // vec_id 0..7 seed the centroids; 0-3 sit at corner A, 4-7 at corner
    // B, and 40 more vectors jitter around one corner each. Lloyd must
    // put every member in a cell seeded by its own corner.
    val a = Array.fill(KMeansOp.Dim)(1.0f)
    val b = Array.fill(KMeansOp.Dim)(-1.0f)
    def jitter(base: Array[Float], seed: Int): Array[Float] = {
      val rng = new scala.util.Random(seed)
      base.map(x => x + rng.nextFloat() * 0.01f)
    }
    val rows = (0L to 3L).map(i => (i, jitter(a, i.toInt))) ++
      (4L to 7L).map(i => (i, jitter(b, i.toInt))) ++
      (8L until 28L).map(i => (i, jitter(a, i.toInt))) ++
      (28L until 48L).map(i => (i, jitter(b, i.toInt)))
    val df = rows.toDF("vec_id", "embedding")
    val out = KMeansOp.kmeans(df).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("cell")).toMap
    val aCells = Set(0L, 1L, 2L, 3L)
    (8L until 28L).foreach(i => assert(aCells.contains(out(i)), s"vec $i"))
    (28L until 48L).foreach(i => assert(!aCells.contains(out(i)), s"vec $i"))
  }

  test("q63/q59: cell ids are the seeding vec_ids even with gaps below K") {
    val rng = new scala.util.Random(7)
    val ids = Seq(1L, 2L, 4L, 6L, 7L) ++ (10L until 40L)
    val rows = ids.map(i => (i, Array.fill(KMeansOp.Dim)(rng.nextFloat())))
    val df = rows.toDF("vec_id", "embedding")
    val seedIds = Set(1L, 2L, 4L, 6L, 7L) // the vec_id < 8 seeds that exist
    val kmCells = KMeansOp.kmeans(df).collect().map(_.getAs[Long]("cell")).toSet
    assert(kmCells.subsetOf(seedIds), s"cells $kmCells must be seed vec_ids")
    val sdCells = graft.operators.SemDedup.semDedup(df).collect()
      .map(_.getAs[Long]("cluster_id")).toSet
    assert(sdCells.subsetOf(seedIds), s"clusters $sdCells must be seed vec_ids")
  }

  test("no seeds (every vec_id >= K): train skips cleanly, outputs are empty like the oracle") {
    // a sparse/shifted id space with nothing below K seeds no centroids;
    // the oracle's empty-seed CTE chain emits zero rows, and the engine
    // must do the same instead of NPE-ing in recenter's collect or
    // emitting NULL-cluster singletons
    val rng = new scala.util.Random(13)
    val rows = (1000L until 1040L).map(i => (i, Array.fill(KMeansOp.Dim)(rng.nextFloat())))
    val df = rows.toDF("vec_id", "embedding")
    assert(KMeansOp.kmeans(df).count() === 0L)
    assert(graft.operators.SemDedup.semDedupTrained(df, 8).count() === 0L)
  }

  test("an empty cell keeps its seed centroid through every round") {
    // vec_id 0 and 1 seed the same centroid S, so every vector ties
    // between cells 0 and 1 and goes to cell 0. The others come in
    // pairs S ± d (d a multiple of 1/64, exact after quantization), so
    // cell 0's mean is S again and every round ties the same way: cell 1
    // never has a member and must keep its seed (not drop out, not 0/0)
    val seed = Array.fill(KMeansOp.Dim)(0.5f)
    val rng = new scala.util.Random(17)
    val pairs = (1 to 9).flatMap { _ =>
      val d = Array.fill(KMeansOp.Dim)((rng.nextInt(17) - 8) / 64.0f)
      Seq(seed.zip(d).map { case (s, x) => s + x }, seed.zip(d).map { case (s, x) => s - x })
    }
    val rows = (Seq(seed, seed.clone()) ++ pairs).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }
    val (qv, cents) = KMeansOp.trainCents(rows.toDF("vec_id", "embedding"), k = 2)
    val seedQ = qv.filter(col("vec_id") === 1L).collect()(0).getSeq[Double](1)
    assert(cents.map(_._1) === Seq(0L, 1L))
    assert(cents(1)._2 === seedQ)
    assert(cents(0)._2 === seedQ) // the mean of S, S and the S ± d pairs
    assert(KMeansOp.assign(qv, cents).filter(col("cell") === 1L).count() === 0L)
  }

  test("q181: points sitting exactly on their centroid score silhouette 1") {
    // 8 distinct basis vectors seed the cells (vec_id 0..7); ids 8..15
    // duplicate them exactly, so every cell's centroid IS its members'
    // point: a = 0, b > 0 → s = 1 for every vector, mean_sil_r = 1.0,
    // min = max = 10⁶ micro
    val rows = (0 until 16).map { i =>
      val e = Array.fill(KMeansOp.Dim)(0.0f); e(i % 8) = 1.0f
      (i.toLong, e)
    }
    val out = KMeansOp.silhouette(rows.toDF("vec_id", "embedding")).collect()
    assert(out.length === 8)
    out.foreach { r =>
      assert(r.getAs[Long]("n") === 2L)
      assert(r.getAs[Double]("mean_sil_r") === 1.0)
      assert(r.getAs[Long]("min_mic") === 1000000L)
      assert(r.getAs[Long]("max_mic") === 1000000L)
    }
  }

  test("q181: a point halfway between two centroids scores exactly 0") {
    // basis seeds + exact duplicates pin every centroid (as above);
    // cell 0 additionally holds p1 = (b0+b1)/2 (equidistant to c0/c1 →
    // s = 0) and its mirror p2 = 1.5·b0 − 0.5·b1, placed so the cell-0
    // mean stays EXACTLY b0 (p1 + p2 = 2·b0). Cell 0's mean drops below
    // the pure cells' 1.0 and its min_mic is the halfway point's 0.
    val rows = (0 until 16).map { i =>
      val e = Array.fill(KMeansOp.Dim)(0.0f); e(i % 8) = 1.0f
      (i.toLong, e)
    } ++ Seq(
      { val e = Array.fill(KMeansOp.Dim)(0.0f); e(0) = 0.5f; e(1) = 0.5f
        (16L, e) },
      { val e = Array.fill(KMeansOp.Dim)(0.0f); e(0) = 1.5f; e(1) = -0.5f
        (17L, e) })
    val out = KMeansOp.silhouette(rows.toDF("vec_id", "embedding")).collect()
      .map(r => r.getAs[Long]("cell") ->
        (r.getAs[Long]("n"), r.getAs[Double]("mean_sil_r"),
          r.getAs[Long]("min_mic"))).toMap
    assert(out.values.map(_._1).sum === 18L)
    assert(out(0L)._1 === 4L)
    assert(out(0L)._3 === 0L, "the halfway point scores micro 0")
    assert(out(0L)._2 < 1.0 && out(0L)._2 > 0.0)
    (1L to 7L).foreach(c => assert(out(c)._2 === 1.0, s"cell $c"))
  }

  test("q181 on the corpus: cells match q63, counts cover, range holds") {
    val emb = Tables.embeddings(spark, sfDir)
    val out = KMeansOp.silhouette(emb).collect()
    val kmSizes = KMeansOp.kmeans(emb).collect()
      .map(r => r.getAs[Long]("cell") -> r.getAs[Long]("cell_size")).toMap
    assert(out.map(_.getAs[Long]("cell")).toSet === kmSizes.keySet)
    out.foreach { r =>
      assert(r.getAs[Long]("n") === kmSizes(r.getAs[Long]("cell")))
      val m = r.getAs[Double]("mean_sil_r")
      assert(m >= 0.0 && m <= 1.0, s"mean $m out of range")
      assert(r.getAs[Long]("min_mic") <= r.getAs[Long]("max_mic"))
      assert(r.getAs[Long]("min_mic") >= 0L &&
        r.getAs[Long]("max_mic") <= 1000000L)
    }
  }

  test("q63 on the corpus: partition-count independence, full coverage") {
    val emb = Tables.embeddings(spark, sfDir)
    val base = KMeansOp.kmeans(emb).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted
    val reparted = KMeansOp.kmeans(emb.repartition(7)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(base === reparted, "assignment must not depend on partitioning")
    assert(base.length === emb.count())
    assert(base.map(_._2).distinct.length > 1, "cells must discriminate")
  }
}
