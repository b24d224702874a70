package graft

import org.apache.spark.sql.functions._
import graft.operators.{Cluster, Packing, Sampling}

class CorpusOpsSpec extends SparkTestBase {
  import spark.implicits._

  // --- q138 triangle support ---

  test("triangleSupport: cliques count triangles, chains count none") {
    // 1-2-3-4 clique (4 triangles, each node in 3), 5-6-7 chain (0),
    // 8-9-10 triangle (1 each)
    val edges = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (5L, 6L), (6L, 7L),
      (8L, 9L), (8L, 10L), (9L, 10L)).toDF("a_id", "b_id")
    val out = Cluster.triangleSupport(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L,
      8L -> 1L, 9L -> 1L, 10L -> 1L),
      s"chain nodes must be absent, clique nodes credited per-triangle: $out")
  }

  // --- q158 contamination hops ---

  test("contaminationHops: shortest distance from the benchmark set, cut at 3 hops") {
    // seed 50 (the %50 convention) chains 50-1-2-3-5: node 5 is 4 hops
    // out and must NOT appear; 7 is disconnected; 100 is an isolated
    // seed (hop 0 with no edges); 1 also reaches the seed via the long
    // way 1-2-3 — MIN must keep it at hop 1
    val docs = Seq(50L, 100L, 1L, 2L, 3L, 5L, 7L)
      .map(i => (i, "t", "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val edges = Seq((50L, 1L), (1L, 2L), (2L, 3L), (3L, 5L))
      .toDF("a_id", "b_id")
    val out = Cluster.contaminationHopsGraph(docs, edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(50L -> 0L, 100L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 3L),
      s"got $out")
  }

  // --- q143 epoch shuffle ---

  test("q143: positions are a 0..n-1 permutation per epoch, epochs reshuffle, " +
      "and the plan never funnels through a single partition") {
    val docs = (0L until 200L).map(i => (i, s"t$i")).toDF("doc_id", "text")
    val out = Sampling.epochShuffle(docs).collect()
    val byEpoch = out.groupBy(_.getInt(1))
    assert(byEpoch.keySet == Set(0, 1))
    byEpoch.foreach { case (e, rows) =>
      assert(rows.map(_.getLong(2)).sorted.toSeq == (0L until 200L),
        s"epoch $e positions must be a dense permutation")
    }
    val perm0 = byEpoch(0).sortBy(_.getLong(2)).map(_.getLong(0)).toSeq
    val perm1 = byEpoch(1).sortBy(_.getLong(2)).map(_.getLong(0)).toSeq
    assert(perm0 != perm1, "epochs must be independent permutations")
    assert(perm0 != (0L until 200L).toSeq, "epoch order must not be ingest order")
    val plan = Sampling.epochShuffle(docs).queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"),
      s"global index must come from the bucketed decomposition, not a 1-task sort:\n$plan")
  }

  // --- q145 quality budget ---

  test("q145: kept mass is the minimal best-first prefix reaching half the group") {
    val src = Tables.documents(spark, sfDir)
      .filter(col("doc_id").isNotNull && col("text").isNotNull && col("n_chars") > 0)
      .select(col("doc_id"), coalesce(col("lang"), lit("")).as("lang"), col("n_chars"),
        expr("(cast(length(text) - length(replace(text, ' ', '')) as bigint) * 1000000) div n_chars").as("rk"))
    val kept = Sampling.qualityBudget(spark, sfDir)
      .select(col("doc_id")).as[Long].collect().toSet
    val all = src.collect().map(r =>
      (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    all.groupBy(_._2).foreach { case (lang, rows) =>
      val tot = rows.map(_._3).sum
      val ordered = rows.sortBy(r => (-r._4, r._1)) // score desc, doc_id
      var prev = 0L
      ordered.foreach { case (id, _, chars, _) =>
        val shouldKeep = 2 * prev < tot
        assert(kept.contains(id) == shouldKeep,
          s"lang=$lang doc=$id prev=$prev tot=$tot: kept=${kept.contains(id)} expected=$shouldKeep")
        prev += chars
      }
    }
  }

  // --- q46 connected components ---

  test("connectedComponents closes a chain transitively and keeps singletons") {
    // edges 1-2, 2-3 (a chain: 1 and 3 are NOT directly linked), 5-6;
    // 4 and 7 are isolated
    val nodes = Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L).toDF("id")
    val edges = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("a_id", "b_id")
    val out = Cluster.connectedComponents(nodes, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L,
      5L -> 5L, 6L -> 5L, 7L -> 7L))
  }

  test("connectedComponents handles a long path (pointer jumping converges)") {
    // path 0-1-2-...-19: one component, diameter 19 — without pointer
    // jumping this needs 19 rounds; with it, O(log) rounds under maxIter
    val n = 20
    val nodes = (0 until n).map(_.toLong).toDF("id")
    val edges = (0 until n - 1).map(i => (i.toLong, i.toLong + 1)).toDF("a_id", "b_id")
    val out = Cluster.connectedComponents(nodes, edges, maxIter = 8)
    assert(out.select("label").distinct().collect().map(_.getLong(0)).toSeq === Seq(0L))
  }

  test("union-find fast path and distributed loop label identically") {
    // pseudo-random graph mixing chains, a clique, and singletons; the
    // min-reachable-id fixpoint is unique, so the two paths must agree
    // exactly (smallGraphMax = 0 forces the join loop)
    val ids = (0 until 60).map(_.toLong)
    val edges = (ids.indices.collect {
      case i if i % 3 != 0 => (ids(i), ids((i * 7) % 60))
    } ++ Seq((50L, 51L), (51L, 52L), (52L, 50L))).toDF("a_id", "b_id")
    val nodes = ids.toDF("id")
    val fast = Cluster.connectedComponents(nodes, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val loop = Cluster.connectedComponents(nodes, edges, smallGraphMax = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fast === loop)
  }

  test("connectedComponents: the distributed loop throws rather than return unconverged labels") {
    // path 0-1-...-63 needs several pointer-jumping rounds; one round
    // cannot converge, and truncated labels would split the component
    val n = 64
    val nodes = (0 until n).map(_.toLong).toDF("id")
    val edges = (0 until n - 1).map(i => (i.toLong, i.toLong + 1)).toDF("a_id", "b_id")
    intercept[IllegalStateException] {
      Cluster.connectedComponents(nodes, edges, maxIter = 1, smallGraphMax = 0)
    }
    def labels(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val loop = labels(Cluster.connectedComponents(nodes, edges, smallGraphMax = 0))
    assert(loop === labels(Cluster.connectedComponents(nodes, edges)))
    assert(loop.values.toSet === Set(0L))
  }

  test("q46 clusters equal the transitive closure of the q23 pair set") {
    val docs = Tables.documents(spark, sfDir)
    val pairs = operators.ApproxDedup.ngramJaccard(docs)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    val out = Cluster.dedupClusters(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // model closure with a tiny union-find over the collected pairs
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expectClusters = out.keys.map(id => id -> find(id)).toMap
    // canonical = min member, so re-canonicalize the union-find labels
    val minOf = expectClusters.groupBy(_._2).map { case (root, m) => root -> m.keys.min }
    out.foreach { case (id, (cid, size)) =>
      assert(cid === minOf(expectClusters(id)), s"doc $id cluster")
      assert(size === expectClusters.count(_._2 == expectClusters(id)).toLong)
    }
    assert(out.size === docs.count())
  }

  test("q130 standardize: planted frame z-scores exact; zero-variance dim -> 0") {
    import spark.implicits._
    // dim0 values (quantized): 0, 1e6, 2e6 -> mean 1e6, pop-var num
    // n*ss - s^2 = 3*5e12 - 9e12 = 6e12; z = (3x - 3e6)/sqrt(6e12).
    // dim1 constant -> var 0 -> z = 0 for every row.
    val em = Seq(
      (0L, Array(0.0f, 0.5f)), (1L, Array(1.0f, 0.5f)), (2L, Array(2.0f, 0.5f))
    ).toDF("vec_id", "embedding")
    val out = operators.Quantize.standardize(em).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Double]("z_min"), r.getAs[Double]("z_max"), r.getAs[Double]("z_dim0"))).toMap
    val z0 = (3.0 * 0 - 3e6) / math.sqrt(6e12)
    val z2 = (3.0 * 2e6 - 3e6) / math.sqrt(6e12)
    assert(out(0L) === ((z0, 0.0, z0)))     // dim1 z=0 is the max for row 0
    assert(out(1L) === ((0.0, 0.0, 0.0)))   // at the mean, both dims 0
    assert(out(2L) === ((0.0, z2, z2)))
    // outlier counts on the corpus: every z in [-2,2] has no flags
    val corpus = operators.Quantize.standardize(spark, sfDir).collect()
    corpus.foreach { r =>
      val ok = r.getAs[Double]("z_min") >= -2.0 && r.getAs[Double]("z_max") <= 2.0
      val flagged = r.getAs[Long]("n_hi") + r.getAs[Long]("n_lo") > 0
      assert(ok !== flagged, s"vec ${r.getLong(0)} flag/range disagree")
    }
  }

  test("q176 embed covariance: planted correlations exact; zero-variance dim -> NULL corr") {
    // d0 = [0,1,2], d1 = [2,1,0] (perfect anti-corr), d2 = const
    val em = Seq(
      (0L, Array(0.0f, 2.0f, 0.5f)),
      (1L, Array(1.0f, 1.0f, 0.5f)),
      (2L, Array(2.0f, 0.0f, 0.5f))).toDF("vec_id", "embedding")
    val out = operators.Quantize.embedCovariance(em).collect()
      .map(r => (r.getAs[Long]("d1"), r.getAs[Long]("d2")) -> r).toMap
    assert(out.size === 6) // upper triangle incl diagonal, d=3
    // pair (0,1): s12 = 0 + 1e12 + 0 = 1e12; num = 3e12 - 9e12 = -6e12
    assert(out((0L, 1L)).getAs[Double]("cov_num") === -6e12)
    assert(out((0L, 1L)).getAs[Double]("corr_r") === -1.0)
    assert(out((0L, 0L)).getAs[Double]("corr_r") === 1.0)
    assert(out((1L, 1L)).getAs[Double]("corr_r") === 1.0)
    // constant dim: variance numerator 0 -> NULL corr, cov 0
    Seq((0L, 2L), (1L, 2L), (2L, 2L)).foreach { p =>
      assert(out(p).isNullAt(out(p).fieldIndex("corr_r")), s"pair $p")
      assert(out(p).getAs[Double]("cov_num") === 0.0)
    }
  }

  test("q176 on the corpus: d*(d+1)/2 pairs, unit diagonal, |corr| <= 1") {
    val out = operators.Quantize.embedCovariance(spark, sfDir).collect()
    assert(out.length === 64 * 65 / 2)
    out.foreach { r =>
      val (d1, d2) = (r.getAs[Long]("d1"), r.getAs[Long]("d2"))
      if (!r.isNullAt(r.fieldIndex("corr_r"))) {
        val c = r.getAs[Double]("corr_r")
        assert(math.abs(c) <= 1.0, s"pair ($d1,$d2) corr $c")
        if (d1 == d2) assert(c === 1.0, s"diagonal ($d1,$d2)")
      }
    }
  }

  // --- q66/q67/q68 quantization, LM score, CMS ---

  test("q66 int8 quantization: scale/codes well-formed, error bounded by half-step") {
    val out = operators.Quantize.int8Quantize(spark, sfDir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val scale = r.getAs[Double]("scale_r")
      val (qmin, qmax) = (r.getAs[Long]("q_min"), r.getAs[Long]("q_max"))
      assert(scale >= 0.0)
      assert(qmin >= -127L && qmax <= 127L && qmin <= qmax)
      // symmetric quantization always hits ±127 on the max-|x| element
      assert(qmax == 127L || qmin == -127L, s"vec ${r.getLong(0)} never saturates")
      // per-element error ≤ half a quantization step → total ≤ dim·(0.5/scale)²
      val err = r.getAs[Double]("err_r")
      assert(err <= 64.0 * math.pow(0.5 / scale, 2) + 1e-9, s"vec ${r.getLong(0)}")
    }
  }

  test("q67 LM score: common-vocabulary docs outscore a rare-vocabulary doc") {
    val docs = Tables.documents(spark, sfDir)
    val out = operators.Search.lmScore(docs).collect()
      .map(r => r.getLong(0) -> r.getAs[Long]("avg_logp_micro")).toMap
    assert(out.size === docs.count())
    // every token of every doc appears ≥1 time in its own corpus: the
    // average log-prob (micro-nats) is strictly negative
    out.values.foreach(v => assert(v < 0L))
    // a synthetic corpus: 9 docs sharing one word + 1 doc of unique words
    val planted = (0 until 9).map(i => (i.toLong, "common common common")) :+
      (9L, "zzq1 zzq2 zzq3")
    val pout = operators.Search.lmScore(planted.toDF("doc_id", "text")).collect()
      .map(r => r.getLong(0) -> r.getAs[Long]("avg_logp_micro")).toMap
    (0 until 9).foreach(i => assert(pout(i.toLong) > pout(9L)))
  }

  test("q68 CMS: estimates are overestimates and exact when no cell collides") {
    val out = operators.Sketch.cmsUserCounts(spark, sfDir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getAs[Long]("est_cnt") >= r.getAs[Long]("true_cnt"),
        s"user ${r.getLong(0)}: CMS must never underestimate")
    }
    // d=4 × w=512 on the tiny sf: most probes should be exact
    val exact = out.count(r => r.getAs[Long]("est_cnt") == r.getAs[Long]("true_cnt"))
    assert(exact * 2 >= out.length, s"only $exact/${out.length} exact")
  }

  test("q70 bloom: no false negatives, false positives bounded") {
    val out = operators.Sketch.bloomMembership(spark, sfDir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      if (r.getAs[Boolean]("is_member"))
        assert(r.getAs[Boolean]("maybe_member"),
          s"doc ${r.getLong(0)}: bloom false negative — impossible by construction")
    }
    val nonMembers = out.filter(!_.getAs[Boolean]("is_member"))
    val fps = nonMembers.count(_.getAs[Boolean]("maybe_member"))
    // 16384 bits, k=3, |members| ≤ corpus: fp rate should stay tiny here
    assert(fps.toDouble <= 0.05 * nonMembers.length + 1,
      s"$fps false positives out of ${nonMembers.length} non-members")
  }

  // --- q47/q49 sampling ---

  test("q47 keeps exactly the under-threshold hash buckets, deterministically") {
    val out1 = Sampling.stratifiedSample(spark, sfDir).collect()
    val out2 = Sampling.stratifiedSample(spark, sfDir).collect()
    assert(out1.map(_.getLong(0)).toSeq === out2.map(_.getLong(0)).toSeq)
    assert(out1.nonEmpty && out1.length < Tables.documents(spark, sfDir).count())
    out1.foreach { r =>
      val (bucket, rate) = (r.getAs[Long]("strat_bucket"), r.getAs[Long]("rate"))
      assert(bucket < rate && bucket >= 0L && rate <= 100L)
    }
    // en must be sampled harder than the default strata
    val rates = out1.map(r => r.getAs[String]("lang") -> r.getAs[Long]("rate")).toMap
    assert(rates.get("en").forall(_ == 30L))
  }

  test("q49 downsamples over-represented strata toward the target mix") {
    val docs = Tables.documents(spark, sfDir)
    val before = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val out = Sampling.domainRebalance(spark, sfDir)
    val after = out.groupBy("lang").agg(count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = before.values.sum
    // every stratum's kept count is ≤ its ppm threshold expectation and
    // ≤ its original size; en (the over-represented one) must shrink
    assert(after("en") < before("en"))
    // a stratum already below target keeps everything (thresh = 1e6)
    val target = total / 2 / Sampling.MixWeights.size
    before.foreach { case (l, n) =>
      if (n <= target) assert(after.getOrElse(l, 0L) === n, s"stratum $l should keep all")
    }
  }

  // --- q48 packing ---

  test("q48 packs respect the budget and oversized docs get their own pack") {
    val docs = Seq(
      (1L, Seq.fill(100)("w").mkString(" "), "s1"),   // 100 tokens
      (2L, Seq.fill(100)("w").mkString(" "), "s1"),   // fits: 200
      (3L, Seq.fill(100)("w").mkString(" "), "s1"),   // 300 > 256 -> new pack
      (4L, Seq.fill(300)("w").mkString(" "), "s1"),   // oversized -> own pack
      (5L, Seq.fill(10)("w").mkString(" "), "s1"),
      (6L, Seq.fill(10)("w").mkString(" "), "s2")     // other shard restarts ids
    ).toDF("doc_id", "text", "source")
    val out = Packing.packSequences(docs, 256L).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("doc_id")) ->
        (r.getAs[Long]("pack_id"), r.getAs[Long]("pack_pos"))).toMap
    assert(out(("s1", 1L)) === ((1L, 1L)))
    assert(out(("s1", 2L)) === ((1L, 2L)))
    assert(out(("s1", 3L)) === ((2L, 1L)))
    assert(out(("s1", 4L)) === ((3L, 1L)))
    assert(out(("s1", 5L)) === ((4L, 1L)))
    assert(out(("s2", 6L)) === ((1L, 1L)))
  }

  test("q185: pad, oversize, and efficiency arithmetic by hand") {
    val docs = Seq(
      (1L, Seq.fill(4)("w").mkString(" "), "s1"),  // pack 1: 4+4 = 8
      (2L, Seq.fill(4)("w").mkString(" "), "s1"),
      (3L, Seq.fill(4)("w").mkString(" "), "s1"),  // pack 2: 4
      (4L, Seq.fill(15)("w").mkString(" "), "s2")  // oversize: own pack, pad 0
    ).toDF("doc_id", "text", "source")
    val out = Packing.packingEfficiency(docs, 10L).collect()
      .map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("n_packs"), r.getAs[Long]("n_docs"),
          r.getAs[Long]("sum_tokens"), r.getAs[Long]("pad_tokens"),
          r.getAs[Long]("n_oversize"), r.getAs[Double]("eff_r"))).toMap
    assert(out("s1") === ((2L, 3L, 12L, 8L, 0L, 0.6)))
    assert(out("s2") === ((1L, 1L, 15L, 0L, 1L, 1.5)),
      "oversize pack: pad clamps at 0, efficiency may exceed 1")
  }

  test("q185 on the corpus: identity sum_tokens + pad - overflow ≡ packs × budget") {
    val eff = Packing.packingEfficiency(spark, sfDir)
    val out = eff.collect()
    assert(out.nonEmpty)
    // recompute overflow from the q48 assignment to close the identity
    val over = Packing.packSequences(spark, sfDir)
      .groupBy("source", "pack_id").agg(sum("n_tokens").as("used"))
      .groupBy("source")
      .agg(sum(greatest(lit(0L), col("used") - Packing.Budget)).as("overflow"))
      .collect().map(r => r.getAs[String]("source") -> r.getAs[Long]("overflow")).toMap
    out.foreach { r =>
      val src = r.getAs[String]("source")
      assert(r.getAs[Long]("sum_tokens") + r.getAs[Long]("pad_tokens") -
        over(src) === r.getAs[Long]("n_packs") * Packing.Budget, s"source $src")
      assert(r.getAs[Double]("eff_r") > 0.0)
    }
  }

  test("q48 on the corpus: pack token sums stay within budget unless singleton") {
    val out = Packing.packSequences(spark, sfDir)
    val packs = out.groupBy("source", "pack_id")
      .agg(sum("n_tokens").as("tok"), count(lit(1)).as("n"))
      .collect()
    assert(packs.nonEmpty)
    packs.foreach { r =>
      val (tok, n) = (r.getAs[Long]("tok"), r.getAs[Long]("n"))
      assert(tok <= Packing.Budget || n == 1L,
        s"pack over budget with $n docs: $tok")
    }
  }

  test("q117: labels spread by majority vote; seeds fixed; ties take min label") {
    import spark.implicits._
    // seeds are doc_id % 10 == 0. Chain 0-1-2-3 spreads "en" one hop
    // per round; 21 sees seeds 20("b") and 30("a") equally -> "a";
    // 5 is isolated -> ""; seed 40 keeps its label despite neighbor 0.
    val docs = Seq(
      (0L, "en"), (1L, null), (2L, null), (3L, null), (5L, null),
      (10L, "fr"), (11L, null),
      (20L, "b"), (30L, "a"), (21L, null),
      (40L, "de")
    ).map { case (id, l) => (id, "t" + id, l) }.toDF("doc_id", "text", "lang")
    val edges = Seq(
      (0L, 1L), (1L, 2L), (2L, 3L),
      (10L, 11L),
      (20L, 21L), (21L, 30L),
      (0L, 40L)
    ).toDF("a_id", "b_id")
    val out = graft.operators.Cluster.labelPropagationGraph(docs, edges).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("label")).toMap
    assert(out(1L) === "en" && out(2L) === "en" && out(3L) === "en")
    assert(out(11L) === "fr")
    assert(out(21L) === "a", s"tie must take min label, got ${out(21L)}")
    assert(out(5L) === "")
    assert(out(40L) === "de", "seed flipped")
    assert(out(0L) === "en" && out(10L) === "fr")
  }

  test("q175: exactly K winners per source, weight-biased, stable across runs") {
    import spark.implicits._
    val docs = (1L to 200L).map { i =>
      // source A: ids 1-100 where even ids are 100x longer; source B: the rest
      val src = if (i <= 100) "A" else "B"
      val w = if (i % 2 == 0) 10000L else 100L
      (i, src, w)
    }.toDF("doc_id", "source", "n_chars")
    val a = graft.operators.Sampling.weightedSample(docs).collect()
    val b = graft.operators.Sampling.weightedSample(docs).collect()
    assert(a.map(_.toString).sorted.sameElements(b.map(_.toString).sorted), "not deterministic")
    val bySrc = a.groupBy(_.getAs[String]("source"))
    assert(bySrc("A").length === graft.operators.Sampling.WsK)
    assert(bySrc("B").length === graft.operators.Sampling.WsK)
    // with a 100x weight advantage, heavy docs should dominate the winners
    val heavy = a.count(_.getAs[Long]("n_chars") == 10000L)
    assert(heavy >= 4, s"expected mostly heavy winners, got $heavy/6")
    // rk is 1..K within each source
    bySrc.values.foreach(rows =>
      assert(rows.map(_.getAs[Long]("rk")).sorted.sameElements(1L to graft.operators.Sampling.WsK)))
  }

  test("q179: allocations sum exactly to the budget and follow sqrt weighting") {
    import spark.implicits._
    // 3 sources with 1, 100, 10000 docs: sqrt weights 1 : 10 : 100
    val docs = ((1L to 1L).map(i => (i, "tiny")) ++
      (1L to 100L).map(i => (1000L + i, "mid")) ++
      (1L to 10000L).map(i => (100000L + i, "big")))
      .toDF("doc_id", "source")
    val out = graft.operators.Sampling.temperatureMix(docs).collect()
      .map(r => r.getAs[String]("source") -> r.getAs[Long]("alloc")).toMap
    assert(out.values.sum === graft.operators.Sampling.MixBudget)
    // sqrt weighting: big gets ~100/111 of the budget, mid ~10/111, tiny ~1/111
    assert(out("big") > out("mid") && out("mid") > out("tiny"))
    assert(math.abs(out("big") - 9009L) <= 1L, s"big=${out("big")}")
    assert(math.abs(out("mid") - 901L) <= 1L, s"mid=${out("mid")}")
    assert(math.abs(out("tiny") - 90L) <= 1L, s"tiny=${out("tiny")}")
  }

  test("q179 on the corpus: budget conserved, every source allocated") {
    val out = graft.operators.Sampling.temperatureMix(spark, sfDir).collect()
    assert(out.map(_.getAs[Long]("alloc")).sum === graft.operators.Sampling.MixBudget)
    assert(out.forall(_.getAs[Long]("alloc") > 0L))
  }

  test("q205 join cardinality: CMS inner product never underestimates; exact matches hand count") {
    import spark.implicits._
    val o = Seq(1L, 1L, 2L, 3L, 3L, 3L).toDF("o_custkey")
    val c = Seq(1L, 2L, 2L, 4L).toDF("c_custkey")
    // exact = f(1)*1 + f(2)*2 = 2 + 2 = 4 (key 3 and 4 unmatched)
    val out = operators.Sketch.joinCardinality(o, c).collect()
    assert(out.length == operators.Sketch.D)
    assert(out.forall(_.getAs[String]("exact_s") == "4"))
    out.foreach { r =>
      assert(r.getAs[String]("est_s").toLong >= 4L)
      assert(r.getAs[Double]("over_ratio_r") >= 1.0)
    }
  }

  test("q205 join cardinality: disjoint key sets give exact 0 and a NULL ratio") {
    import spark.implicits._
    val o = Seq(1L, 2L).toDF("o_custkey")
    val c = Seq(3L, 4L).toDF("c_custkey")
    val out = operators.Sketch.joinCardinality(o, c).collect()
    assert(out.forall(_.getAs[String]("exact_s") == "0"))
    assert(out.forall(_.isNullAt(out(0).fieldIndex("over_ratio_r"))))
  }
}
