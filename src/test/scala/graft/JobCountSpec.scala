package graft

/** Driver round-trips of the trained classifiers, the graph operators
  * over the shared pair table and the k-means trainers, pinned: job
  * counts do not move with host load, so a rise here is a real extra
  * pass or barrier, not noise. Each query runs in full into the noop
  * sink. */
class JobCountSpec extends SparkTestBase {

  private def jobsOf(query: String): Int = jobsDuring(
    SparkEntry.queries(query)(spark, sfDir)
      .write.format("noop").mode("overwrite").save())

  // q219's report write is re-planned by adaptive execution as its
  // stages finish; by finishing order that plan takes 10 jobs or (about
  // one run in twelve) 8, so q219 has two exact counts. Every job before
  // that write, the trainer's included, is fixed.
  Seq("q217_quality_classifier" -> Set(16),
      "q218_langid_classifier" -> Set(24),
      "q219_acceptance_report" -> Set(25, 27)).foreach { case (q, counts) =>
    test(s"$q runs in ${counts.mkString(" or ")} Spark jobs") {
      val n = jobsOf(q)
      assert(counts(n), s"$q ran $n jobs")
    }
  }

  // The graph family reads build-once artifacts (the τ=0.8 pair table,
  // q208's co-purchase edges); one untimed call builds them, so the pin
  // counts only the operator's own rounds, checkpoints and probes.
  Seq("q46_dedup_cc" -> 12, "q87_pagerank" -> 23, "q93_dedup_survivor" -> 13,
      "q117_label_propagation" -> 25, "q121_corpus_overlap" -> 10,
      "q138_triangle_support" -> 6, "q141_split_leakage" -> 3,
      "q158_contamination_hops" -> 16, "q195_kcore" -> 22,
      "q208_common_neighbors" -> 13).foreach { case (q, count) =>
    test(s"$q runs in $count Spark jobs once its artifacts exist") {
      jobsOf(q)
      val n = jobsOf(q)
      assert(n == count, s"$q ran $n jobs")
    }
  }

  // The k-means family trains in place (seed collect, Lloyd rounds,
  // final assignment); counted after one untimed call like the graph
  // pins above.
  Seq("q63_kmeans" -> 15, "q65_ann_ivf" -> 17,
      "q104_semdedup_trained" -> 16).foreach { case (q, count) =>
    test(s"$q runs in $count Spark jobs") {
      jobsOf(q)
      val n = jobsOf(q)
      assert(n == count, s"$q ran $n jobs")
    }
  }
}
