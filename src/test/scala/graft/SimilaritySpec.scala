package graft

import org.apache.spark.sql.functions._
import graft.functions.VectorOps
import graft.operators.{Dedup, Similarity}

class SimilaritySpec extends SparkTestBase {
  import spark.implicits._

  /** Planted corpus: 0/1 near-identical, 2 orthogonal-ish, 3 = -0 direction. */
  private lazy val planted = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
    (1L, Array(0.999f, 0.001f, 0.0f, 0.0f)),
    (2L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
    (3L, Array(-1.0f, 0.0f, 0.0f, 0.0f)),
    (4L, Array(0.0f, 0.999f, 0.001f, 0.0f))
  ).toDF("vec_id", "embedding")

  test("cosine: identical=1, orthogonal=0, opposite=-1") {
    val v = planted.select(col("vec_id"), VectorOps.toDouble(col("embedding")).as("e"))
    val a = v.filter(col("vec_id") === 0).select(col("e").as("ea"))
    val sims = a.crossJoin(v)
      .select(col("vec_id"), VectorOps.cosine(col("ea"), col("e")).as("sim"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(sims(0L) - 1.0) < 1e-12)
    assert(math.abs(sims(2L)) < 1e-12)
    assert(math.abs(sims(3L) + 1.0) < 1e-12)
    assert(sims(1L) > 0.97)
  }

  test("embedding near-dup clusters planted pairs, not strangers") {
    planted.createOrReplaceTempView("planted_embeddings")
    // run the same neighborhood-min clustering on the planted frame
    val v = planted.select(col("vec_id"), VectorOps.toDouble(col("embedding")).as("e"))
      .withColumn("nrm", VectorOps.norm(col("e")))
    val a = v.select(col("vec_id").as("a_id"), col("e").as("ea"), col("nrm").as("na"))
    val b = v.select(col("vec_id").as("b_id"), col("e").as("eb"), col("nrm").as("nb"))
    val pairs = a.join(b, col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        VectorOps.cosinePre(col("ea"), col("eb"), col("na"), col("nb")).as("sim"))
      .filter(col("sim") >= 0.97)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((0L, 1L), (2L, 4L)))
  }

  test("q26 on test data: every vec canonicalizes to itself or a smaller id") {
    val out = Dedup.embeddingThreshold(spark, sfDir).collect()
    assert(out.length === Tables.embeddings(spark, sfDir).count())
    assert(out.forall(r => r.getAs[Long]("canonical_id") <= r.getAs[Long]("vec_id")))
  }

  test("q22 exact dedup: canonical is min of cluster, sizes sum to corpus") {
    val out = Dedup.exact(spark, sfDir).collect()
    assert(out.forall(r => r.getAs[Long]("canonical_id") <= r.getAs[Long]("doc_id")))
    val byHash = out.groupBy(_.getAs[String]("content_hash"))
    byHash.foreach { case (_, rs) =>
      assert(rs.forall(_.getAs[Long]("cluster_size") === rs.length))
      assert(rs.map(_.getAs[Long]("canonical_id")).distinct.length === 1)
    }
  }

  test("q27 top-k: 10 neighbors per query, sims non-increasing, no self") {
    val out = Similarity.bruteForceTopK(spark, sfDir).collect()
    out.groupBy(_.getAs[Long]("query_id")).foreach { case (q, rs) =>
      assert(rs.length === 10)
      assert(rs.forall(_.getAs[Long]("neighbor_id") !== q))
      val sims = rs.sortBy(_.getAs[Long]("rank")).map(_.getAs[Double]("sim_r"))
      assert(sims.zip(sims.tail).forall { case (x, y) => x >= y })
    }
  }

  test("native dot product expression matches the interpreted HOF fold bit-for-bit") {
    val v = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), VectorOps.toDouble(col("embedding")).as("e"))
      .limit(50)
    val a = v.select(col("vec_id").as("ai"), col("e").as("ea"))
    val b = v.select(col("vec_id").as("bi"), col("e").as("eb"))
    val both = a.crossJoin(b)
      .select(VectorOps.dot(col("ea"), col("eb")).as("native"),
        VectorOps.dotHof(col("ea"), col("eb")).as("hof"))
      .collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ===
        java.lang.Double.doubleToLongBits(r.getDouble(1)))
    }
  }

  test("exact-arithmetic IVF (q65): k results per query, recall, ranks well-formed") {
    val exact1 = Similarity.bruteForceTopK(spark, sfDir).collect()
      .filter(_.getAs[Long]("rank") === 1L)
      .map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("neighbor_id")).toMap
    val ivf = Similarity.ivfTopKExact(spark, sfDir).collect()
    val byQuery = ivf.groupBy(_.getAs[Long]("query_id"))
    assert(byQuery.keySet.size === 10)
    byQuery.foreach { case (_, rs) =>
      assert(rs.map(_.getAs[Long]("rank")).sorted.toSeq ===
        (1L to rs.length).toSeq) // dense 1..n ranks
      val sims = rs.sortBy(_.getAs[Long]("rank")).map(_.getAs[Double]("sim_r"))
      assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
    }
    // nprobe=3 of K=8 cells: majority recall of the exact top-1
    val hits = byQuery.count { case (q, rs) =>
      rs.exists(_.getAs[Long]("neighbor_id") === exact1(q)) }
    assert(hits >= 5, s"exact-IVF recall of exact top-1 too low: $hits/10")
  }

  test("LSH-blocked near-dup pairs keep planted dups and are a subset of exact") {
    planted.createOrReplaceTempView("planted_for_blocked")
    // corpus-level: blocked ⊆ exact at the same tau
    val exact = graft.operators.Dedup.nearDupPairs(spark, sfDir, 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val blocked = graft.operators.Dedup.nearDupPairsBlocked(spark, sfDir, 0.5, 6).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(blocked.subsetOf(exact))
    // planted near-identical vectors share every sign bucket
    val v = planted.select(col("vec_id"),
      graft.functions.VectorOps.toDouble(col("embedding")).as("e"))
      .withColumn("bucket",
        Similarity.lshBucket(col("e"), Similarity.hyperplanesFor(6, dim = 4)))
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("bucket")).toMap
    assert(v(0L) === v(1L)) // cos ≈ 0.9999 pair
  }

  test("multiprobe LSH recall >= single-bucket LSH recall") {
    val em = Tables.embeddings(spark, sfDir)
    val exact1 = Similarity.bruteForceTopK(em).collect()
      .filter(_.getAs[Long]("rank") === 1L)
      .map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("neighbor_id")).toMap
    def recall(df: org.apache.spark.sql.DataFrame): Int =
      df.collect().count(r => exact1.get(r.getAs[Long]("query_id"))
        .contains(r.getAs[Long]("neighbor_id")))
    val single = recall(Similarity.lshTopK(em))
    val multi = recall(Similarity.lshTopKMultiprobe(em, probes = 3))
    assert(multi >= single)
    assert(Similarity.lshTopKMultiprobe(em, probes = 1).collect().map(_.toString).toSet
      === Similarity.lshTopK(em).collect().map(_.toString).toSet)
  }

  test("q129 recall audit: multiprobe dominates LSH, counts bounded by truth") {
    val em = Tables.embeddings(spark, sfDir)
    val out = Similarity.annRecall(em).collect()
    assert(out.length === 10) // one row per query
    out.foreach { r =>
      val (t, l, m) = (r.getAs[Long]("n_truth"), r.getAs[Long]("hits_lsh"),
        r.getAs[Long]("hits_multiprobe"))
      assert(t === 10L)
      assert(l >= 0L && l <= t)
      assert(m >= l, s"query ${r.getLong(0)}: multiprobe candidates are a " +
        "superset of the single bucket, recall cannot drop")
    }
    // the audit agrees with the pipelines it audits, recomputed directly
    val truth = Similarity.bruteForceTopK(em).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val lshHits = Similarity.lshTopK(em).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")))
      .count(truth.contains)
    assert(out.map(_.getAs[Long]("hits_lsh")).sum === lshHits.toLong)
  }

  test("persisted EXACT IVF index search equals the in-memory q65 pipeline") {
    val em = graft.Tables.embeddings(spark, sfDir)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_exact").toString
    graft.operators.IvfIndex.buildExact(em, dir)
    val fromIndex = graft.operators.IvfIndex
      .searchExact(spark, dir, em.filter(col("vec_id") < 10))
      .collect().map(_.toString).toSeq
    val inMemory = Similarity.ivfTopKExact(em).collect().map(_.toString).toSeq
    assert(fromIndex === inMemory)
    assert(fromIndex.nonEmpty)
  }

  test("q29 knn join: exactly 3 neighbors per source vector") {
    val out = Similarity.knnJoin(spark, sfDir).collect()
    val n = Tables.embeddings(spark, sfDir).count()
    assert(out.length === 3 * n)
  }

  test("q41 LSH-blocked knn: <= k per source, every reported pair shares a bucket") {
    val em = Tables.embeddings(spark, sfDir)
    val out = Similarity.knnJoinLshBlocked(em).collect()
    val perSrc = out.groupBy(_.getAs[Long]("src_id"))
    assert(perSrc.forall(_._2.length <= 3))
    assert(perSrc.nonEmpty)
    // multi-table blocking: a reported pair must share ≥1 of its
    // LshTables per-table buckets (default entry: bits = LshBits)
    val bucketsOf = Dedup.normalized(em)
      .select(col("vec_id"),
        Similarity.multiBuckets(col("e"), Similarity.LshBits).as("bkts"))
      .collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getSeq[Long](1).toIndexedSeq).toMap
    out.foreach { r =>
      val (s0, n0) = (bucketsOf(r.getAs[Long]("src_id")),
        bucketsOf(r.getAs[Long]("nbr_id")))
      assert(s0.indices.exists(t => s0(t) == n0(t)),
        "reported pair collides in no table")
    }
    // within a bucket the ranking is the exact ranking: rank-1 neighbor's
    // sim must be >= every other reported sim for that source
    perSrc.foreach { case (_, rs) =>
      val sims = rs.sortBy(_.getAs[Long]("rank")).map(_.getAs[Double]("sim_r"))
      assert(sims.zip(sims.tail).forall { case (x, y) => x >= y })
    }
  }

  test("q42 incremental dedup: planted cross-batch dups inherit corpus canonicals only") {
    // corpus = validated vecs 0 and 2; batch: 1 ≈ 0 (inherit), 4 ≈ 2
    // (inherit), 3 = -e0 (cos = -1, mint new), 5 ≈ 3 (near-identical to a
    // BATCH vector — must still mint its own, batch never matches batch)
    val corpus = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val batch = Seq(
      (1L, Array(0.999f, 0.001f, 0.0f, 0.0f)),
      (3L, Array(-1.0f, 0.0f, 0.0f, 0.0f)),
      (4L, Array(0.0f, 0.999f, 0.001f, 0.0f)),
      (5L, Array(-0.999f, -0.001f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val out = Dedup.dedupIncremental(corpus, batch, tau = 0.97, bits = 2, dim = 4)
      .collect().map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Long]("canonical_id"), r.getAs[Long]("matched"))).toMap
    assert(out(1L) === ((0L, 1L)))
    assert(out(4L) === ((2L, 1L)))
    assert(out(3L) === ((3L, 0L)))
    assert(out(5L) === ((5L, 0L)))
  }

  test("q42 best-match tie-breaking is deterministic: highest sim wins, then lowest id") {
    // two corpus vecs identical to the batch vec: both sim=1, lower id wins
    val corpus = Seq(
      (7L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (9L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (8L, Array(0.9f, 0.1f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val batch = Seq((100L, Array(1.0f, 0.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val out = Dedup.dedupIncremental(corpus, batch, tau = 0.9, bits = 2, dim = 4).collect()
    assert(out.length === 1)
    assert(out.head.getAs[Long]("canonical_id") === 7L)
    assert(out.head.getAs[Long]("matched") === 1L)
  }

  test("q40 blocked pairs: subset of exact pairs at the same tau, sims rounded") {
    val exact = Dedup.nearDupPairs(spark, sfDir, Dedup.BlockedTau).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val blocked = Dedup.embeddingBlockedPairs(spark, sfDir).collect()
    assert(blocked.nonEmpty)
    assert(blocked.map(r => (r.getLong(0), r.getLong(1))).toSet.subsetOf(exact))
  }

  test("q157: batch upserts are associative and upserted vectors become searchable") {
    import org.apache.spark.sql.functions.col
    import graft.operators.IvfIndex
    val em = Tables.embeddings(spark, sfDir)
    val base = em.filter(col("vec_id") % 5 =!= 0)
    val batch = em.filter(col("vec_id") % 5 === 0)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    // one-shot upsert
    val d1 = java.nio.file.Files.createTempDirectory("graft_upsert1").resolve("i").toString
    IvfIndex.buildExact(base, d1)
    val before = spark.read.parquet(s"$d1/corpus").count()
    IvfIndex.upsertBatch(spark, d1, batch)
    assert(spark.read.parquet(s"$d1/corpus").count() - before ===
      Dedup.normalized(batch).count(), "append must add exactly the batch")
    val one = rows(IvfIndex.searchExact(spark, d1, em.filter(col("vec_id") < 10)))
    // the same batch split across two upserts — appends must compose
    val d2 = java.nio.file.Files.createTempDirectory("graft_upsert2").resolve("i").toString
    IvfIndex.buildExact(base, d2)
    IvfIndex.upsertBatch(spark, d2, batch.filter(col("vec_id") % 2 === 0))
    IvfIndex.upsertBatch(spark, d2, batch.filter(col("vec_id") % 2 =!= 0))
    val two = rows(IvfIndex.searchExact(spark, d2, em.filter(col("vec_id") < 10)))
    assert(one === two, "split upserts diverged from the one-shot upsert")
    // upserted vectors are live: some mod-5 neighbor must surface
    assert(one.exists(_._2 % 5 == 0), s"no upserted vector ever retrieved: $one")
  }

  test("q167 filtered search: a perfect match outside the label is invisible") {
    import spark.implicits._
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f), 7),  // query, label 7
      (1L, Array(0.6f, 0.8f), 7),  // same label, cosine 0.6
      (2L, Array(1.0f, 0.0f), 8),  // cosine 1.0 but label 8 — must NOT appear
      (3L, Array(1.0f, 0.0f), 7),  // same label, cosine 1.0
      (4L, null.asInstanceOf[Array[Float]], 7), // NULL embedding drops
      (20L, Array(0.0f, 1.0f), 8)  // candidate-only (id ≥ 10), label 8
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.filteredTopK(vecs)
      .filter(col("query_id") === 0L).collect()
      .map(r => (r.getAs[Long]("cand_id"), r.getAs[Long]("rank"),
        r.getAs[Int]("label")))
    assert(out.toSeq === Seq((3L, 1L, 7), (1L, 2L, 7)))
  }

  test("q180 hard negatives: same-label twins never mine as negatives; pos_sim is their ceiling") {
    import spark.implicits._
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f), 7),   // anchor, label 7
      (1L, Array(1.0f, 0.0f), 7),   // same-label twin: cosine 1 but NOT a negative
      (2L, Array(0.8f, 0.6f), 8),   // different label, cosine 0.8 — rank-1 negative
      (3L, Array(0.6f, 0.8f), 8),   // different label, cosine 0.6 — rank 2
      (4L, Array(0.6f, 0.8f), 7),   // same label, cosine 0.6 — positive arm only
      (5L, null.asInstanceOf[Array[Float]], 8), // NULL embedding drops
      (20L, Array(0.0f, 1.0f), 9)   // candidate-only, orthogonal — rank 3
    ).toDF("vec_id", "embedding", "label")
    val rows = graft.operators.Similarity.hardNegatives(vecs)
      .filter(col("query_id") === 0L).collect()
      .map(r => (r.getAs[Long]("neg_id"), r.getAs[Long]("rank"),
        r.getAs[Double]("sim_r"), r.getAs[Double]("pos_sim_r")))
    assert(rows.map(t => (t._1, t._2)).toSeq === Seq((2L, 1L), (3L, 2L), (20L, 3L)))
    assert(rows.forall(_._4 === 1.0), "best positive is the exact twin (cosine 1)")
    // float32 0.8 is not double 0.8 — bound, don't pin
    assert(rows.head._3 > 0.79 && rows.head._3 < 0.81)
    assert(!rows.exists(r => Set(1L, 4L).contains(r._1)),
      "same-label vectors must never appear as negatives")
  }

  test("q180 hard negatives (corpus): labels always differ, ranks dense, pos arm present") {
    val labels = graft.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("label")).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("label")).toMap
    val out = graft.operators.Similarity.hardNegatives(spark, sfDir).collect()
    assert(out.nonEmpty)
    out.groupBy(_.getAs[Long]("query_id")).foreach { case (_, rs) =>
      assert(rs.map(_.getAs[Long]("rank")).sorted.toSeq ===
        (1L to rs.length.toLong).toSeq)
    }
    out.foreach { r =>
      assert(labels(r.getAs[Long]("neg_id")) !== r.getAs[Int]("label"))
      assert(labels(r.getAs[Long]("query_id")) === r.getAs[Int]("label"))
      assert(!r.isNullAt(r.fieldIndex("pos_sim_r")),
        "corpus labels repeat, so every anchor has a positive")
    }
  }

  test("q167 filtered search: every hit shares the query label (corpus)") {
    val labels = graft.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("label")).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("label")).toMap
    val out = Similarity.filteredTopK(spark, sfDir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(labels(r.getAs[Long]("cand_id")) === r.getAs[Int]("label"))
      assert(labels(r.getAs[Long]("query_id")) === r.getAs[Int]("label"))
      assert(r.getAs[Long]("rank") >= 1L && r.getAs[Long]("rank") <= 10L)
    }
  }

  test("SignLshProbeBuckets: base half == multiBuckets, probe flips the weakest-margin bit") {
    val L = Similarity.LshTables
    val bits = 6
    val rows = Dedup.normalized(graft.Tables.embeddings(spark, sfDir).limit(32))
      .select(col("vec_id"), col("e"),
        Similarity.multiBuckets(col("e"), bits).as("base"),
        Similarity.multiProbeBuckets(col("e"), bits).as("probed"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val e = r.getSeq[Double](1).toArray
      val base = r.getSeq[Long](2)
      val probed = r.getSeq[Long](3)
      assert(probed.length === 2 * L)
      assert(probed.take(L) === base)
      (0 until L).foreach { t =>
        // independent margin computation: strict left-to-right dot per
        // plane, first-minimum tie-break — the kernel's contract
        val planes = Similarity.tablePlanes(t, Similarity.MaxLshBits)
        val margins = (0 until bits).map { i =>
          var s = 0.0
          var d = 0
          while (d < e.length) { s += e(d) * planes(i)(d); d += 1 }
          math.abs(s)
        }
        val expFlip = margins.indexOf(margins.min)
        assert(probed(L + t) === (base(t) ^ (1L << expFlip)),
          s"table $t: probe slot is not the weakest-margin flip")
      }
    }
  }

  test("SignLshProbeBuckets: wrong-dim vector yields zeros in BOTH halves") {
    val df = Seq((1L, Array(1.0, 2.0, 3.0))).toDF("vec_id", "e")
    val out = df.select(Similarity.multiProbeBuckets(col("e"), 4).as("p"))
      .collect()(0).getSeq[Long](0)
    assert(out.length === 2 * Similarity.LshTables)
    assert(out.forall(_ === 0L))
  }
}
