package graft

/** Driver round-trips of the trained classifiers, pinned: job counts do
  * not move with host load, so a rise here is a real extra pass or
  * barrier, not noise. Each query runs in full into the noop sink. */
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
}
