package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ArtifactStore.{readTable, writeTable}
import graft.Tables

/** q109/q197: persisted term-partitioned inverted index — the lexical
  * analog of q72's persisted IVF index, and the serving pattern behind
  * the reference's search box (`app.py:120-147` WHERE builder + ranked
  * results over indexed columns; q60 scores BM25 by re-scanning the
  * corpus, which is the right shape for a one-off analytical query and
  * the wrong one for repeated serving).
  *
  * Build once per source dir ([[graft.ArtifactStore]]), three parts
  * under one root:
  *
  *  - `postings/` — (term, doc_id, tf, dl) partitioned by bucket =
  *    md5(term) mod [[NumBuckets]] (md5-derived, not `hash()`, so the
  *    layout is stable across Spark versions and reproducible from the
  *    term alone). dl is DENORMALIZED onto every posting — the classic
  *    impact-index layout: a scored lookup then needs NO doc-length
  *    side join, everything BM25 needs rides the pruned scan.
  *  - `termstats/` — (term, df, max_tf, min_dl, max_impact) partitioned
  *    the same way: per-term document frequency and a sound UPPER BOUND
  *    on the term's best possible BM25 partial (computed from max tf /
  *    min dl — BM25 is monotone up in tf and down in dl, so
  *    f(max_tf, min_dl) ≥ every posting's true partial). These are the
  *    per-term upper bounds WAND-family pruning needs (Broder et al.,
  *    CIKM 2003), precomputed at build time.
  *  - `stats/` — one row (n_docs, sum_dl): the corpus-level BM25
  *    constants.
  *
  * Lookups compute their terms' buckets DRIVER-SIDE from the literals
  * and read ONLY those partition directories — `PartitionFilters:
  * bucket IN (…)` in the scan, k/64ths of the index for a k-term
  * query, never the corpus and never the whole index.
  *
  * Scale notes: at 100 TB the index build is one explode + one
  * (term, doc_id) aggregate — shuffle-bounded by postings volume, and
  * Zipf skew lands on the BUCKET write only (a hot term's postings
  * list is one partition dir of many files, not one task: the
  * pre-write `repartition(bucket, doc_id-range)` spreads it). Lookups
  * are interactive-cheap: partition pruning bounds IO by the queried
  * terms' list sizes; q109's conjunction probes rarest-first via
  * broadcast semi-joins, and q197's ranked top-k prunes with the
  * precomputed impact bounds so a stopword-class list contributes only
  * the postings that could still reach the running top-k — see
  * [[bm25TopK]]. */
object PostingsIndex {

  val NumBuckets = 64
  val TopN = 20

  /** Query terms — the same fixed lexical query q60's BM25 scores, so
    * the two operators are directly comparable (scan-scoring vs
    * index-lookup) on identical semantics. */
  val Terms: Seq[String] = Search.Terms

  /** md5-derived bucket of a term: first 15 hex chars (60 bits) mod
    * [[NumBuckets]] — cheap, deterministic, engine-independent. */
  private def bucketCol(term: Column): Column =
    pmod(conv(substring(md5(term), 1, 15), 16, 10).cast("long"), lit(NumBuckets))

  /** The same bucket computed driver-side for a literal query term. */
  private[graft] def bucketOf(term: String): Long = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(term.getBytes("UTF-8")).map(b => f"$b%02x").mkString.take(15)
    java.lang.Long.parseLong(hex, 16) % NumBuckets
  }

  /** The index write itself — exposed for specs that build an index
    * over a planted corpus (the skew spec). */
  private[graft] def buildIndex(docs: DataFrame, staging: String): Unit = {
    // (term, doc_id, tf) feeds the dl join AND the corpus-token sum —
    // checkpoint or the corpus tokenizes once per consumer
    val tf = docs
      .select(col("doc_id"), explode(TextAnalysis.words(col("text"))).as("term"))
      .groupBy(col("term"), col("doc_id")).agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    // corpus constants driver-side: N counts EVERY document (token-less
    // and null-text docs included — q60's count(*) semantics); Σdl is
    // the total token count, identical to q60's SUM(dl) because
    // token-less docs contribute 0 either way
    val nDocs = docs.count()
    val sumDl = tf.agg(coalesce(sum(col("tf")), lit(0L))).first().getLong(0)
    val post = tf.join(dl, Seq("doc_id"))
      .select(col("term"), col("doc_id"), col("tf"), col("dl"))
      .withColumn("bucket", bucketCol(col("term")))
      .localCheckpoint() // two consumers: the postings write + termstats
    // spread a hot bucket across tasks by doc_id, not one task per
    // bucket; partitionBy still lands each bucket in its own dir
    writeTable(post.repartition(col("bucket"), col("doc_id") % 8),
      s"$staging/postings", "bucket")
    // per-term pruning bounds over the |vocab|-row aggregate; guard the
    // empty corpus (avgdl undefined, and there are no terms to bound)
    val avgdl = if (nDocs == 0) 1.0 else sumDl.toDouble / nDocs.toDouble
    val mtf = col("max_tf").cast("double")
    val ub = log(lit(1.0) +
        (lit(nDocs.toDouble) - col("df").cast("double") + lit(0.5)) /
          (col("df").cast("double") + lit(0.5))) *
      (mtf * (Search.K1 + 1.0)) /
      (mtf + lit(Search.K1) * (lit(1.0) - Search.B +
        lit(Search.B) * col("min_dl").cast("double") / lit(avgdl)))
    writeTable(post.groupBy(col("term"))
      .agg(count(lit(1)).as("df"), max(col("tf")).as("max_tf"),
        min(col("dl")).as("min_dl"))
      .withColumn("max_impact", ub)
      .withColumn("bucket", bucketCol(col("term")))
      .repartition(col("bucket")), s"$staging/termstats", "bucket")
    writeTable(statsFrame(docs.sparkSession, nDocs, sumDl), s"$staging/stats")
  }

  /** One-row (n_docs, sum_dl) frame. */
  private def statsFrame(s: SparkSession, nDocs: Long, sumDl: Long): DataFrame = {
    import s.implicits._
    Seq((nDocs, sumDl)).toDF("n_docs", "sum_dl").coalesce(1)
  }

  /** Build (or reuse) the postings artifact for `dir`; returns its path.
    * Keyed on source files × writer semantics (tokenization + layout),
    * per the round-6 artifact-key contract. v2 layout: postings carry
    * dl, termstats carry the impact bounds. */
  def ensureIndex(s: SparkSession, dir: String): String = {
    val docs = Tables.documents(s, dir)
    graft.ArtifactStore.ensureCurrent(s, "postings_v2",
      Tables.dirFingerprint(s, dir,
        s"postings;ws-tokens;dl;tstats;b=$NumBuckets;${docs.schema.catalogString}")) { staging =>
      buildIndex(docs, staging)
    }
  }

  /** q109: conjunctive lookup of [[Terms]] through the index. Output:
    * (doc_id, score=Σtf) for docs containing EVERY term, top-20 by
    * score desc then doc_id — deterministic. */
  def lookup(s: SparkSession, dir: String): DataFrame =
    lookupTerms(s, ensureIndex(s, dir), Terms)

  /** The pruned postings scan for a query: bucket IN (…) is a PARTITION
    * filter (pruned at planning); the term filter prunes rows inside
    * the surviving buckets. */
  private def prunedPostings(s: SparkSession, path: String,
      terms: Seq[String]): DataFrame = {
    val buckets = terms.map(bucketOf).distinct
    readTable(s, s"$path/postings")
      .where(col("bucket").isin(buckets: _*) && col("term").isin(terms: _*))
  }

  /** Conjunctive lookup with RAREST-TERM-FIRST probing — the classic
    * index-intersection order: per-term document frequencies come from
    * a bounded agg over the pruned scan (|terms| rows collected), the
    * rarest term's postings seed the candidate set, and every other
    * term is applied as a BROADCAST left-semi join against that set —
    * the hot (stopword-class) lists are scanned in place but NEVER
    * shuffled; the only shuffled rows are the surviving docs' postings
    * feeding the final Σtf aggregate, ≤ |terms| × rarest-df. The
    * candidate broadcasts are rarest-df-bounded by construction — the
    * same bound any conjunction's result obeys. */
  private[graft] def lookupTerms(s: SparkSession, path: String,
      terms: Seq[String]): DataFrame = {
    val idx = prunedPostings(s, path, terms)
    // document frequencies: an index-bounded agg, |terms| rows
    val dfs = idx.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // a term with zero postings empties the conjunction outright
    if (terms.exists(t => !dfs.contains(t)))
      return idx.select(col("doc_id"), col("tf").cast("long").as("score")).limit(0)
    val ordered = terms.distinct.sortBy(t => (dfs(t), t))
    var cand = idx.where(col("term") === ordered.head).select(col("doc_id"))
    for (t <- ordered.tail)
      cand = idx.where(col("term") === t)
        .join(broadcast(cand), Seq("doc_id"), "left_semi")
        .select(col("doc_id"))
    // survivors contain every term by construction; fetch their postings
    // (a broadcast semi probe over the pruned scan) and score
    idx.join(broadcast(cand), Seq("doc_id"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("score"))
      .select(col("doc_id"), col("score").cast("long").as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(TopN)
  }

  /** q109 oracle: the same conjunction recomputed corpus-side. */
  val lookupOracleSql: String = {
    val inList = Terms.map(t => s"'$t'").mkString(", ")
    s"""WITH tok AS (SELECT doc_id,
       |  unnest(list_filter(string_split(text, ' '), w -> w <> '')) AS term
       | FROM documents),
       |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok
       | WHERE term IN ($inList) GROUP BY doc_id, term),
       |agg AS (SELECT doc_id, COUNT(*) AS n_terms, SUM(tf) AS score
       | FROM tf GROUP BY doc_id)
       |SELECT doc_id, CAST(score AS BIGINT) AS score
       |FROM agg WHERE n_terms = ${Terms.size}
       |ORDER BY score DESC, doc_id LIMIT $TopN""".stripMargin
  }

  // ---- q197: ranked BM25 top-k THROUGH the index (WAND-lite) ----

  /** Pruning slack subtracted from the seed threshold: the per-term
    * bounds and the threshold are computed with the same arithmetic as
    * the exact scores, but build-time column expressions vs serve-time
    * literals can differ by ulps, and the final ranking key is the
    * 9-dp-rounded score (±5e-10 of the raw double). 2e-9 dominates
    * both, keeping the prune provably sound (see [[bm25TopK]]). */
  private val PruneSlack = 2e-9

  /** q197: BM25 ranked top-[[TopN]] for [[Terms]] SERVED FROM the
    * postings index — identical output to q60's corpus scan-scoring
    * (same columns, same fixed query, same oracle), different cost
    * shape: the scan reads only the queried terms' bucket dirs, and
    * impact-ordered pruning (WAND-lite) keeps a stopword-class list
    * from flooding the score shuffle.
    *
    * Three bounded phases:
    *  1. SEED — fully score the candidates from the RAREST queried
    *     term's list (their other-term postings fetched by a broadcast
    *     semi probe, the q109 shape). The N-th best seed score, minus
    *     [[PruneSlack]], is a certified lower bound θ on the global
    *     N-th score: seeds are true totals and a subset's N-th never
    *     exceeds the global N-th.
    *  2. PRUNE — per posting, its exact BM25 partial s plus the OTHER
    *     queried terms' precomputed max_impact bounds caps what its
    *     document could possibly total. For any doc with true total
    *     ≥ θ, EVERY posting passes this filter (each partial ≤ its
    *     term's bound), so survivors aggregate to their exact totals;
    *     a partially-dropped doc has true total < θ and its
    *     (undercounted) survivor score stays < θ, strictly below all
    *     N seed docs — it can never displace a true top-N doc.
    *  3. SCORE — pivot survivors to q60's per-term tf columns and
    *     evaluate the SAME ordered score expression (bit-identical
    *     doubles), bounded top-N.
    *
    * Per-phase volume: seed ≤ |terms| × rarest-df postings; prune is a
    * codegen filter ON the pruned scan (no shuffle); the score shuffle
    * carries only postings that can still reach the running top-k —
    * the WAND economics, set-wise. Fewer than N seed docs → θ
    * undefined → prune disabled (small result sets need no pruning). */
  def bm25TopK(s: SparkSession, dir: String): DataFrame =
    bm25TopKTerms(s, ensureIndex(s, dir), Terms)

  private[graft] def bm25TopKTerms(s: SparkSession, path: String,
      terms: Seq[String]): DataFrame = {
    val statsRow = readTable(s, s"$path/stats")
      .collect().headOption
    val nDocs = statsRow.map(_.getLong(0)).getOrElse(0L)
    val sumDl = statsRow.map(_.getLong(1)).getOrElse(0L)
    if (nDocs == 0L) return emptyScored(s, terms)
    val buckets = terms.map(bucketOf).distinct
    val tstats = readTable(s, s"$path/termstats")
      .where(col("bucket").isin(buckets: _*) && col("term").isin(terms: _*))
      .select(col("term"), col("df"), col("max_impact"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val present = terms.distinct.filter(tstats.contains)
    if (present.isEmpty) return emptyScored(s, terms)
    val dfs = terms.map(t => t -> tstats.get(t).map(_._1).getOrElse(0L)).toMap
    val avgdl = sumDl.toDouble / nDocs.toDouble
    val post = prunedPostings(s, path, terms)

    // q60's per-term partial, token for token, with the corpus stats as
    // literals (same values the column formulation computes) — scores
    // must agree with the scan-scoring path bitwise
    def part(t: String): Column = {
      val tf = col(s"tf_$t").cast("double")
      val df = lit(dfs(t).toDouble)
      val n = lit(nDocs.toDouble)
      val idf = log(lit(1.0) + (n - df + 0.5) / (df + 0.5))
      idf * (tf * (Search.K1 + 1.0)) /
        (tf + lit(Search.K1) * (lit(1.0) - Search.B +
          lit(Search.B) * col("dl").cast("double") / lit(avgdl)))
    }
    def pivotScore(p: DataFrame): DataFrame = {
      val aggs = max(col("dl")).as("dl") +:
        terms.map(t => coalesce(max(when(col("term") === t, col("tf"))), lit(0L))
          .as(s"tf_$t"))
      p.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
        .withColumn("score", terms.map(part).reduce(_ + _))
        .withColumn("score_r", round(col("score"), 9))
    }

    // phase 1: certified threshold from the rarest present term's docs
    val rarest = present.minBy(t => (dfs(t), t))
    val seedIds = post.where(col("term") === rarest).select(col("doc_id"))
    val seedTop = pivotScore(
        post.join(broadcast(seedIds), Seq("doc_id"), "left_semi"))
      .orderBy(col("score").desc).limit(TopN)
      .agg(count(lit(1)).as("n"), min(col("score")).as("kth")).collect().head
    val theta: Option[Double] =
      if (seedTop.getLong(0) < TopN) None
      else Some(seedTop.getDouble(1) - PruneSlack)

    // phase 2: posting-level upper-bound filter (a doc whose total can
    // still reach θ keeps ALL its postings — see the soundness note)
    val pruned = theta match {
      case None => post
      case Some(th) =>
        val sumM = present.map(t => tstats(t)._2).sum
        def caseOver(f: String => Double): Column =
          present.tail.foldLeft(when(col("term") === present.head,
            lit(f(present.head)))) { (acc, t) =>
            acc.when(col("term") === t, lit(f(t)))
          }
        // the posting's own exact partial, from its (tf, dl) columns
        // and its term's idf literal
        val idfOf = (t: String) => {
          val df = dfs(t).toDouble; val n = nDocs.toDouble
          math.log(1.0 + (n - df + 0.5) / (df + 0.5))
        }
        val tfD = col("tf").cast("double")
        val sPart = caseOver(idfOf) * (tfD * (Search.K1 + 1.0)) /
          (tfD + lit(Search.K1) * (lit(1.0) - Search.B +
            lit(Search.B) * col("dl").cast("double") / lit(avgdl)))
        val suffix = caseOver(t => sumM - tstats(t)._2)
        post.where(sPart + suffix >= lit(th))
    }

    // phase 3: exact rescore of the survivors, bounded top-N
    pivotScore(pruned)
      .filter(col("score_r") > 0.0)
      .select(col("doc_id") +: col("dl") +:
        terms.map(t => col(s"tf_$t")) :+ col("score_r"): _*)
      .orderBy(col("score_r").desc, col("doc_id"))
      .limit(TopN)
  }

  /** Zero-row result with q60's exact output schema (empty corpus / no
    * queried term indexed). */
  private def emptyScored(s: SparkSession, terms: Seq[String]): DataFrame =
    s.range(0).select(col("id").as("doc_id") +: col("id").as("dl") +:
      terms.map(t => col("id").as(s"tf_$t")) :+
      lit(0.0).as("score_r"): _*)

  /** q197 oracle: BM25 recomputed corpus-side — [[Search.bm25OracleSql]]
    * verbatim; the indexed path must reproduce the scan-scoring values
    * exactly. */
  def bm25TopKOracleSql: String = Search.bm25OracleSql
}
