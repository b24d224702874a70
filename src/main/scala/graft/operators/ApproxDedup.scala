package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ArtifactStore.{readTable, writeTable}
import graft.Tables
import graft.functions.VectorOps.arraySum

/** Approximate / sub-quadratic deduplication for text corpora: n-gram
  * Jaccard with prefix filtering (Chaudhuri/Ganti/Kaushik ICDE'06;
  * Bayardo/Ma/Srikant WWW'07), MinHash+LSH banding (Broder 1997;
  * Leskovec/Rajaraman/Ullman ch.3), and SimHash with Hamming-band
  * rotation (Charikar STOC'02; Manku/Jain/Sarma WWW'07) — the scale
  * paths the reference's single-node Qdrant scan cannot take (reference
  * analog deduplicate_from_qdrant.py).
  *
  * Scale notes:
  *  - shingle blocking turns all-pairs Jaccard into "pairs sharing ≥1
  *    shingle" — one explode + one equi-join shuffle on the shingle.
  *    Hot shingles (df > [[DfCap]]) are excluded from the candidate
  *    join so one viral boilerplate 3-gram can't put df² pairs on a
  *    single reducer (spec proves planted τ=0.8 pairs survive).
  *  - MinHash/LSH replaces the shingle join with a 32×(4-row band) bucket
  *    join: candidates only, then exact-Jaccard verification. With these
  *    parameters a J≥0.8 pair is missed with probability < 1e-7, so the
  *    verified output equals exact blocking in practice.
  *  - SimHash bands are exact by pigeonhole: Hamming ≤ 3 over 4 bands
  *    forces ≥1 identical band, so banding loses nothing.
  *  - All hashes derive from md5 (engine-portable); the 128 MinHash
  *    permutations use constants from a fixed seed so any engine can
  *    reproduce the signature bit-for-bit.
  */
object ApproxDedup {

  val P: Long = 2147483647L // 2^31-1, modulus for shingle/permutation hashing
  val NumPerms = 128
  val Bands = 32
  val Rows = 4 // NumPerms / Bands
  val Tau = 0.8

  /** Fixed-seed permutation constants, identical in the DuckDB oracle. */
  val (permA, permB): (Seq[Long], Seq[Long]) = {
    val rng = new scala.util.Random(42)
    val a = Seq.fill(NumPerms)(1L + rng.nextInt((P - 1).toInt).toLong)
    val b = Seq.fill(NumPerms)(rng.nextInt(P.toInt).toLong)
    (a, b)
  }

  /** doc_id + distinct word-3-gram shingle set (empty if < 3 words) —
    * native kernel (see [[org.apache.spark.sql.graftbridge.WordShingles]]);
    * [[shingleSetsHof]] keeps the HOF reference semantics for specs. */
  def shingleSets(s: SparkSession, dir: String): DataFrame =
    shingleSets(Tables.documents(s, dir))

  def shingleSets(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.graftbridge.{ColumnBridge, WordShingles}
    docs
      .select(col("doc_id"),
        ColumnBridge.column(WordShingles(ColumnBridge.expression(col("text")), 3))
          .as("shingles"))
  }

  /** Interpreted HOF formulation of [[shingleSets]]. */
  def shingleSetsHof(s: SparkSession, dir: String): DataFrame =
    shingleSetsHof(Tables.documents(s, dir))

  def shingleSetsHof(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), filter(split(col("text"), " "), w => w =!= "").as("ws"))
      .select(col("doc_id"),
        when(size(col("ws")) < 3, array().cast("array<string>"))
          .otherwise(array_distinct(transform(
            sequence(lit(0), size(col("ws")) - 3),
            i => concat_ws(" ",
              element_at(col("ws"), i + 1),
              element_at(col("ws"), i + 2),
              element_at(col("ws"), i + 3)))))
          .as("shingles"))

  /** Exact Jaccard over blocked candidate pairs: every pair sharing ≥1
    * shingle, with common counted by the equi-join — pairs sharing none
    * have J=0 and can't pass any positive τ. Jaccard is a ratio of exact
    * integer counts: no float divergence across engines. */
  private def jaccardPairs(sh: DataFrame, tau: Double): DataFrame = {
    val sized = sh.select(col("doc_id"), col("shingles"), size(col("shingles")).as("n"))
    val e = sized.select(col("doc_id"), explode(col("shingles")).as("shingle"), col("n"))
    val a = e.select(col("doc_id").as("a_id"), col("shingle"), col("n").as("na"))
    val b = e.select(col("doc_id").as("b_id"), col("shingle"), col("n").as("nb"))
    // length-ratio prefilter: J = |∩|/|∪| <= min(na,nb)/max(na,nb), so a
    // pair can only reach τ when sizes are within a 1/τ factor — pruning
    // inside the join cuts the pair explosion before the aggregate without
    // changing the result set.
    a.join(b, Seq("shingle")).filter(col("a_id") < col("b_id")
        && col("na") >= col("nb") * tau && col("nb") >= col("na") * tau)
      .groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).as("common"),
        first(col("na")).cast("long").as("na"), first(col("nb")).cast("long").as("nb"))
      .withColumn("jaccard",
        col("common").cast("double") / (col("na") + col("nb") - col("common")).cast("double"))
      .filter(col("jaccard") >= tau)
  }

  /** q23: exact 3-gram Jaccard pairs at J ≥ 0.8 via prefix filtering.
    *
    * Classic all-pairs similarity pruning: order shingles globally by
    * document frequency (rarest first); a doc's prefix is its first
    * |A| - ⌈τ|A|⌉ + 1 shingles in that order. Any pair with J ≥ τ has
    * overlap ≥ ⌈τ·max(|A|,|B|)⌉, which forces the two prefixes to share
    * a shingle — so joining on prefix shingles only finds every
    * qualifying pair while shrinking the exploded join by ~(1-τ)².
    * Candidates are then verified with the exact intersection count.
    * Same output as the naive shingle-block join ([[jaccardPairs]]),
    * which the spec cross-checks. */
  /** Hot-shingle document-frequency cap: shingles appearing in more docs
    * than this never enter the candidate join. One viral boilerplate
    * 3-gram in a web-scale corpus otherwise turns its join key into a
    * df² pair explosion on a single reducer. A capped shingle can only
    * cost a true pair when EVERY prefix shingle the pair shares is that
    * hot (i.e. the docs are near-pure boilerplate) — the standard
    * accepted trade; verification is unaffected (full shingle sets).
    * 1000 is far above any df in the test corpora (max 25 at sf0.1), so
    * the gated q23 output stays exactly the uncapped result. */
  val DfCap = 1000L

  /** Gated q23 entry: serves the shared materialized pair table
    * ([[Cluster.pairsTable]] — banded candidates + exact verification,
    * written once per source dir), so q23 and the graph consumers pay
    * the pipeline exactly once between them; the gate's exact-SQL
    * oracle value-checks banding recall on every run. The frame-API
    * overloads below still compute the exact-complete prefix-filter
    * path inline. */
  def ngramJaccard(s: SparkSession, dir: String): DataFrame =
    Cluster.pairsTable(s, dir)
      .select("a_id", "b_id", "common", "na", "nb", "jaccard")
      .orderBy("a_id", "b_id")

  def ngramJaccard(docs: DataFrame): DataFrame = ngramJaccard(docs, DfCap)

  def ngramJaccard(docs: DataFrame, dfCap: Long): DataFrame =
    ngramJaccardPairs(docs, dfCap)
      .select("a_id", "b_id", "common", "na", "nb", "jaccard")
      .orderBy("a_id", "b_id")

  /** [[ngramJaccard]] without the presentation sort — consumers that
    * reshuffle anyway (e.g. q46's connected components over the pair
    * edges) skip the range exchange. */
  def ngramJaccardPairs(docs: DataFrame, dfCap: Long = DfCap): DataFrame = {
    val sized = shingleSets(docs).filter(size(col("shingles")) > 0)
      .select(col("doc_id"), col("shingles"), size(col("shingles")).cast("long").as("n"))
    // every blocking stage (df agg, rarity windows, candidate self-join)
    // keys on the 64-bit xxhash of the shingle, never the ~20-char
    // string: same string → same hash, so blocking recall is preserved,
    // a collision in the candidate join only adds a candidate the exact
    // verification below discards, and every wide shuffle before
    // verification ships 8-byte keys. The prefix filter holds under ANY
    // consistent global rarity order, so ordering by (df, hs) instead
    // of (df, shingle) changes only which prefix witnesses a pair, not
    // the verified output. One caveat folds into the df-cap trade: df
    // is counted per HASH, so a collision with a hot shingle can push a
    // rare shingle over the cap — exactly the "treated as hot" loss
    // mode the cap already accepts for genuinely hot shingles, with
    // collision probability on top.
    val e = sized.select(col("doc_id"), explode(col("shingles")).as("shingle"))
      .select(col("doc_id"), xxhash64(col("shingle")).as("hs"))
    val df = e.groupBy(col("hs")).agg(count(lit(1)).as("df"))
    // rank each doc's (kept) shingles rarest-first and keep the prefix
    // rows directly: one shuffle on doc_id feeding two Window passes over
    // the same sort — no per-doc array build (the previous
    // collect_list → sort_array → slice → re-explode materialized every
    // doc's full shingle list twice)
    val byRarity = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("df"), col("hs"))
    val wholeDoc = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
    val ph = e.join(df.filter(col("df") <= dfCap), Seq("hs"))
      .withColumn("rn", row_number().over(byRarity))
      .withColumn("m", count(lit(1)).over(wholeDoc))
      .filter(col("rn") <= (col("m") - ceil(col("m") * Tau) + 1).cast("int"))
      .select(col("doc_id"), col("hs"))
    val cand = ph.select(col("doc_id").as("a_id"), col("hs"))
      .join(ph.select(col("doc_id").as("b_id"), col("hs")), Seq("hs"))
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id").dropDuplicates("a_id", "b_id")
    cand
      .join(sized.select(col("doc_id").as("a_id"), col("shingles").as("sa"), col("n").as("na")), Seq("a_id"))
      .join(sized.select(col("doc_id").as("b_id"), col("shingles").as("sb"), col("n").as("nb")), Seq("b_id"))
      .filter(col("na") >= col("nb") * Tau && col("nb") >= col("na") * Tau)
      .withColumn("common", size(array_intersect(col("sa"), col("sb"))).cast("long"))
      .withColumn("jaccard",
        col("common").cast("double") / (col("na") + col("nb") - col("common")).cast("double"))
      .filter(col("jaccard") >= Tau)
      .select("a_id", "b_id", "common", "na", "nb", "jaccard")
  }

  /** Containment threshold for [[containmentPairs]]. */
  val TauC = 0.9

  /** q79: shingle-containment near-dup pairs — the ASYMMETRIC relation
    * Jaccard can't see: C(A→B) = |A∩B|/|A| ≥ τ catches a short doc
    * quoted wholesale inside a long one (|B| ≫ |A| caps Jaccard at
    * |A|/|B| however perfect the inclusion). Broder's containment
    * (1997) — the dedup signal for quote/boilerplate inclusion.
    *
    * Same prefix-filter machinery as [[ngramJaccardPairs]], asymmetric:
    * only the A side is cut to its (1−τ)|A|+1 rarest shingles (if A
    * shares none of that prefix with B, common ≤ ⌈τ|A|⌉−1 < τ|A|), the
    * B side posts ALL its (df-capped) shingles. Candidates verify with
    * the exact intersection; containment is a ratio of exact integer
    * counts. Output is ordered pairs: a near-identical pair appears in
    * both directions, a strict inclusion only once. */
  def containmentPairs(s: SparkSession, dir: String): DataFrame =
    containmentPairs(Tables.documents(s, dir))

  def containmentPairs(docs: DataFrame): DataFrame = {
    val sized = shingleSets(docs).filter(size(col("shingles")) > 0)
      .select(col("doc_id"), col("shingles"), size(col("shingles")).cast("long").as("n"))
    val e = sized.select(col("doc_id"), explode(col("shingles")).as("shingle"), col("n"))
      .select(col("doc_id"), xxhash64(col("shingle")).as("hs"), col("n"))
    val df = e.groupBy(col("hs")).agg(count(lit(1)).as("df"))
    val kept = e.join(df.filter(col("df") <= DfCap), Seq("hs"))
    val byRarity = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("df"), col("hs"))
    val wholeDoc = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
    val pref = kept
      .withColumn("rn", row_number().over(byRarity))
      .withColumn("m", count(lit(1)).over(wholeDoc))
      .filter(col("rn") <= (col("m") - ceil(col("m") * TauC) + 1).cast("int"))
      .select(col("doc_id").as("a_id"), col("hs"), col("n").as("na0"))
    val all = kept.select(col("doc_id").as("b_id"), col("hs"), col("n").as("nb0"))
    // size prune INSIDE the candidate join: |A∩B| ≤ |B|, so C ≥ τ forces
    // |B| ≥ τ|A| — candidates with a too-small B never reach the
    // exact-verify stage (τ|A| is float-exact at the integer boundary,
    // and verification re-checks exactly regardless)
    val cand = pref.join(all, Seq("hs"))
      .filter(col("a_id") =!= col("b_id") && col("nb0") >= col("na0") * TauC)
      .select("a_id", "b_id").dropDuplicates("a_id", "b_id")
    cand
      .join(sized.select(col("doc_id").as("a_id"), col("shingles").as("sa"),
        col("n").as("na")), Seq("a_id"))
      .join(sized.select(col("doc_id").as("b_id"), col("shingles").as("sb"),
        col("n").as("nb")), Seq("b_id"))
      .filter(col("nb") >= col("na") * TauC)
      .withColumn("common", size(array_intersect(col("sa"), col("sb"))).cast("long"))
      .withColumn("containment", col("common").cast("double") / col("na").cast("double"))
      .filter(col("containment") >= TauC)
      .select("a_id", "b_id", "common", "na", "containment")
      .orderBy("a_id", "b_id")
  }

  /** LSH-Ensemble geometry for [[containmentBlocked]] (round 10 —
    * Zhu et al., "LSH Ensemble: Internet-Scale Domain Search",
    * VLDB 2016). Containment C(A→B) = τ at sizes (na, nb) implies
    * Jaccard J = τ·na/(na + nb − τ·na), which decays with the size
    * ratio — the reason the SYMMETRIC q24 geometry (32×4, tuned to
    * J ≥ 0.8) cannot witness asymmetric containment, and the reason
    * round 9's single 64×2 cut decayed past 2× ratios (~0.24 detection
    * at 4×). The ensemble move: size-partition the corpus into
    * power-of-two buckets on shingle count (bucket = ⌊log₂ n⌋, exact
    * integer via length(bin(n))−1 in BOTH engines — no float log at
    * boundary values) and tune the banding evidence REQUIRED for a
    * candidate to the bucket distance d = |k_a − k_b| of the pair,
    * over one [[CNumPerms]]-permutation signature cut as
    * [[CBands]]×[[CRows]] bands:
    *
    *  - d ≤ 1 (ratio < 4): worst-case J ≥ τ/(4−τ+1·τ̄) ≈ 0.22; a true
    *    pair expects 128·J² ≥ 6.2 matching bands, so requiring
    *    [[CNearHits]] = 3 keeps boundary detection ~0.95 (planted
    *    same-size/2× inclusions ≈ 1.0) while pricing J ≈ 0.05 noise at
    *    P(≥3 | E=0.32) ≈ 0.004 — LESS noise than round 9's ≥2-of-64.
    *  - d ∈ [2, [[CMaxBucketDist]]] (ratio 2..16): J down to ~0.056 at
    *    the τ-boundary; evidence floor [[CFarHits]] = 1. Detection
    *    1−(1−J²)^128: planted C=1 inclusions ≈ 0.9997 at 4× (J=0.25)
    *    and ≈ 0.87 at 8× (J=0.125); the τ=0.9-boundary worst case is
    *    ~0.80 at 8× and decays inside d=3 toward 16× — the documented
    *    residual. Cross-bucket pairs are RARE (few docs are weakly
    *    similar across a 4×+ size gap), so the loose floor adds little
    *    candidate volume.
    *  - d > [[CMaxBucketDist]] (ratio ≥ 16): out of this operator's
    *    declared range — a wholesale quote at 16×+ is boilerplate
    *    inclusion, q216's anchor-gram substring machinery (exact, not
    *    minhash), and the pre-round-10 geometry detected ≈ 0 there
    *    anyway, so the explicit bound only names an existing residual.
    *
    * rows=1 would detect everything but keys single MinHash values,
    * whose buckets regrow the hot-shingle df² wall banding exists to
    * avoid (a hot shingle is the min for ~df/m of its docs) — the
    * ensemble buys far-ratio recall with MORE 2-row bands (256 perms,
    * builder-only: every other minhash consumer keeps the 128-perm
    * signature) plus distance-tuned floors, never with 1-row bands. */
  val CNumPerms = 256
  val CBands = 128
  val CRows = 2 // CNumPerms / CBands

  /** Extra 128 fixed-seed permutations appended to [[permA]]/[[permB]]
    * for the containment builder's 256-perm signature; a separate seed
    * keeps the first 128 bit-identical to every other consumer's. */
  val (permAC, permBC): (Seq[Long], Seq[Long]) = {
    val rng = new scala.util.Random(43)
    val a2 = Seq.fill(CNumPerms - NumPerms)(1L + rng.nextInt((P - 1).toInt).toLong)
    val b2 = Seq.fill(CNumPerms - NumPerms)(rng.nextInt(P.toInt).toLong)
    (permA ++ a2, permB ++ b2)
  }

  /** Matching-band floors per bucket distance (see geometry above), and
    * the declared maximum bucket distance. The hit counts are slim
    * 16-byte-row aggregates BEFORE any payload joins — the round-9
    * lesson (78M collision rows at sf10 dragged shingle arrays through
    * the verify join and spilled past the disk) kept: floor first,
    * verify after. */
  val CNearHits = 3
  val CFarHits = 1
  val CMaxBucketDist = 3

  /** Pairing cap per (band, band_key) bucket — the LSH-book "skip hot
    * buckets" rule, and what keeps the candidate volume CORPUS-LINEAR:
    * measured at sf10, vocabulary-hot band keys (two common trigrams'
    * minhash minima shared corpus-wide) grew their buckets ∝ corpus and
    * the far-floor then admitted 27.3M candidates of which 1,048
    * verified (0.004% yield, 174 s of exact verify — the n² wall in
    * slow motion). A band bucket with more than this many docs is not a
    * pairwise-inclusion witness, it is BOILERPLATE — a phrase stamped
    * across >64 documents is exactly q216's substring-dedup regime
    * (which detects it exactly, per occurrence, corpus-linearly), and a
    * genuine inclusion pair's shared content is pair-specific, so its
    * matching bands land in cluster-sized buckets far below the cap.
    * Dropped-bucket volume is Σ min(c, cap)² ≈ linear in corpus where
    * uncapped it is Σ c² ≈ quadratic. Replayed verbatim in the oracle
    * (bucket-count CTE, BETWEEN 2 AND cap). */
  val CBucketCap = 64

  /** q215: one-sided-signature blocked containment — the oracle-gated
    * SCALE path of q79 (which stays the exact-complete twin, its
    * A-prefix × B-full-postings candidates being Σ prefix-df(t)·df(t)
    * — the same df² class measured at 1.68 B candidates for jpairs at
    * sf10). Candidates here come from the [[CBands]]×[[CRows]] MinHash
    * band join — collision volume tracks TRUE pair similarity (J² per
    * band), not shared-token df — then verify EXACTLY like q79: size
    * prune nb ≥ τ·na, exact intersection, C = common/na ≥ τ. Both
    * directions of every collision are tested, so near-identical pairs
    * emit twice and strict inclusions once, matching q79's contract.
    * The oracle replays signature, banding, and verify in SQL (the q40
    * stance: the gate checks the BLOCKING, the spec checks recall
    * against the exact twin on planted inclusions). */
  def containmentBlocked(s: SparkSession, dir: String): DataFrame = {
    // build-once artifact (the q23 pairsTable stance, learned the hard
    // way: the inline band self-join re-run per invocation spilled
    // past the disk at sf10; a pair table is corpus state, built once)
    val path = graft.ArtifactStore.ensureCurrent(s, "contain_pairs_v2",
      Tables.dirFingerprint(s, dir,
        s"containment;bands=$CBands;rows=$CRows;near=$CNearHits;" +
          s"far=$CFarHits;dist=$CMaxBucketDist;cap=$CBucketCap;tau=$TauC")) { staging =>
      writeTable(containmentBlockedPairs(Tables.documents(s, dir)), staging)
    }
    readTable(s, path).orderBy("a_id", "b_id")
  }

  def containmentBlocked(docs: DataFrame): DataFrame =
    containmentBlockedPairs(docs).orderBy("a_id", "b_id")

  /** The unordered band-collision candidates verified in BOTH
    * directions from ONE exact intersection: candidates carry a < b
    * (halving the collision join and the shingle-set verify join —
    * exact-duplicate clusters collide on all 64 bands, so the factor
    * is real), then each unordered pair emits the directions whose
    * C = common/|side| clears τ, exactly q79's ordered-pair contract. */
  private def containmentBlockedPairs(docs: DataFrame): DataFrame = {
    val sized = shingleSets(docs).filter(size(col("shingles")) > 0)
      .select(col("doc_id"), col("shingles"), size(col("shingles")).cast("long").as("n"))
    // 256-perm signature + size bucket ⌊log₂ n⌋ (exact: length(bin(n))−1)
    val sig = sized.select(col("doc_id"),
        signature(col("shingles"), permAC, permBC).as("sig"),
        (length(bin(col("n"))) - 1).cast("long").as("k"))
      .repartition(col("doc_id")) // CollapseProject barrier, as bandRows
    val banded = sig.select(col("doc_id"), col("k"),
        posexplode(transform(sequence(lit(0), lit(CBands - 1)),
          b => concat_ws(",", slice(col("sig"), b * CRows + 1, lit(CRows))
            .cast("array<string>")))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "band_key")
    // pairable buckets: ≥2 docs (a singleton can't witness a pair) and
    // ≤ CBucketCap (hot = boilerplate, q216's regime — see the cap's
    // doc). Deliberately NOT broadcast-hinted: the pairable list grows
    // with the corpus (a ~100 MB forced broadcast flaked once at sf10
    // under the 8 g heap), and the un-hinted shuffle join over the slim
    // (band, key) rows is linear and memory-safe — AQE still broadcasts
    // it when it is actually small.
    val pairable = banded.groupBy(col("band"), col("band_key"))
      .agg(count(lit(1)).as("__bc"))
      .filter(col("__bc") >= 2L && col("__bc") <= CBucketCap.toLong)
      .select(col("band"), col("band_key"))
    val kept = banded.join(pairable, Seq("band", "band_key"))
    val a = kept.select(col("doc_id").as("a_id"), col("k").as("ka"),
      col("band"), col("band_key"))
    val b = kept.select(col("doc_id").as("b_id"), col("k").as("kb"),
      col("band"), col("band_key"))
    val cand = a.join(b, Seq("band", "band_key"))
      .filter(col("a_id") < col("b_id") &&
        abs(col("ka") - col("kb")) <= CMaxBucketDist.toLong)
      .groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).as("__hits"),
        max(abs(col("ka") - col("kb"))).as("__d")) // d is pair-constant
      .filter(col("__hits") >= when(col("__d") <= 1L, CNearHits.toLong)
        .otherwise(CFarHits.toLong))
      .select("a_id", "b_id")
    // shuffle_hash, not sort-merge: SMJ SORTS both inputs WITH their
    // payloads, and at 100× the bench SF that means sort-spilling
    // ~kilobyte shingle arrays for every far-floor candidate (the
    // round-9 disk death in slow motion); SHJ builds a per-partition
    // map of the corpus side and STREAMS the slim candidate side, so
    // the arrays only ever flow through the pipelined join output
    val ver = cand
      .join(sized.hint("shuffle_hash")
        .select(col("doc_id").as("a_id"), col("shingles").as("sa"),
          col("n").as("na")), Seq("a_id"))
      .join(sized.hint("shuffle_hash")
        .select(col("doc_id").as("b_id"), col("shingles").as("sb"),
          col("n").as("nb")), Seq("b_id"))
      .withColumn("common", size(array_intersect(col("sa"), col("sb"))).cast("long"))
      .select("a_id", "b_id", "common", "na", "nb")
    val fwd = ver.select(col("a_id"), col("b_id"), col("common"), col("na"),
      (col("common").cast("double") / col("na").cast("double")).as("containment"))
    val rev = ver.select(col("b_id").as("a_id"), col("a_id").as("b_id"),
      col("common"), col("nb").as("na"),
      (col("common").cast("double") / col("nb").cast("double")).as("containment"))
    fwd.unionByName(rev).filter(col("containment") >= TauC)
  }

  /** q215 oracle: 256-perm signature, size buckets, 128×2 banding with
    * the distance-tuned hit floors, and the containment verify replayed
    * in SQL — the md5/permutation constants baked in exactly as q187's
    * calibration oracle does. */
  def containmentBlockedOracleSql: String = {
    val pa = permAC.mkString("[", ",", "]")
    val pb = permBC.mkString("[", ",", "]")
    s"""WITH w AS (SELECT doc_id, list_filter(string_split(text,' '), x -> x <> '') AS ws FROM documents),
       |shl AS (SELECT doc_id, CASE WHEN len(ws) < 3 THEN []
       |  ELSE list_distinct(list_transform(range(1, len(ws)-1),
       |         i -> ws[i]||' '||ws[i+1]||' '||ws[i+2])) END AS s FROM w),
       |sz AS (SELECT doc_id, s, CAST(len(s) AS BIGINT) AS n FROM shl WHERE len(s) > 0),
       |hs AS (SELECT doc_id, CAST(length(bin(n)) - 1 AS BIGINT) AS k,
       |    list_transform(s, sg -> CAST(('0x' || substring(md5(sg),1,15)) AS BIGINT) % $P) AS hl
       |  FROM sz),
       |pc AS (SELECT $pa AS pa, $pb AS pb),
       |sg AS (SELECT doc_id, k,
       |    list_transform(range(1, $CNumPerms + 1), i ->
       |      list_reduce(list_prepend(CAST($P AS BIGINT),
       |        list_transform(hl, h -> (pc.pa[i]*h + pc.pb[i]) % $P)),
       |        (x,y) -> least(x,y))) AS sig
       |  FROM hs CROSS JOIN pc),
       |bd0 AS (SELECT doc_id, k, t.b AS band,
       |    array_to_string(sig[t.b*$CRows+1 : t.b*$CRows+$CRows], ',') AS band_key
       |  FROM sg CROSS JOIN range(0, $CBands) t(b)),
       |bsz AS (SELECT band, band_key FROM bd0 GROUP BY 1, 2
       |  HAVING COUNT(*) BETWEEN 2 AND $CBucketCap),
       |bd AS (SELECT bd0.* FROM bd0 JOIN bsz USING (band, band_key)),
       |cand AS (SELECT a_id, b_id FROM (
       |    SELECT a.doc_id AS a_id, b.doc_id AS b_id, abs(a.k - b.k) AS d
       |    FROM bd a JOIN bd b ON a.band = b.band AND a.band_key = b.band_key
       |      AND a.doc_id < b.doc_id AND abs(a.k - b.k) <= $CMaxBucketDist)
       |  GROUP BY 1, 2 HAVING COUNT(*) >=
       |    (CASE WHEN MAX(d) <= 1 THEN $CNearHits ELSE $CFarHits END)),
       |v AS (SELECT cand.a_id, cand.b_id,
       |    CAST(len(list_intersect(sa.s, sb.s)) AS BIGINT) AS common,
       |    sa.n AS na, sb.n AS nb
       |  FROM cand JOIN sz sa ON sa.doc_id = cand.a_id
       |  JOIN sz sb ON sb.doc_id = cand.b_id)
       |SELECT a_id, b_id, common, na,
       |  CAST(common AS DOUBLE) / CAST(na AS DOUBLE) AS containment
       |FROM v WHERE CAST(common AS DOUBLE) / CAST(na AS DOUBLE) >= ${TauC}e0
       |UNION ALL
       |SELECT b_id AS a_id, a_id AS b_id, common, nb AS na,
       |  CAST(common AS DOUBLE) / CAST(nb AS DOUBLE) AS containment
       |FROM v WHERE CAST(common AS DOUBLE) / CAST(nb AS DOUBLE) >= ${TauC}e0
       |ORDER BY a_id, b_id""".stripMargin
  }

  /** Naive blocked exact Jaccard (explode + full shingle equi-join) —
    * reference semantics for [[ngramJaccard]], used by specs. */
  def ngramJaccardNaive(s: SparkSession, dir: String): DataFrame =
    ngramJaccardNaive(Tables.documents(s, dir))

  def ngramJaccardNaive(docs: DataFrame): DataFrame =
    jaccardPairs(shingleSets(docs), Tau)
      .select("a_id", "b_id", "common", "na", "nb", "jaccard")
      .orderBy("a_id", "b_id")

  /** 60-bit md5-derived hash reduced mod P. */
  private def hMod(c: Column): Column = TextAnalysis.md5Long(c) % P

  /** 128-value MinHash signature column from a shingle-set column —
    * native codegen expression over the per-shingle md5 hashes (see
    * [[org.apache.spark.sql.graftbridge.MinHashSignature]]). The md5 of
    * each shingle is computed exactly once. */
  def signature(shingles: Column): Column = signature(shingles, permA, permB)

  /** [[signature]] over an arbitrary permutation family — the
    * containment builder's 256-perm variant rides the same native
    * kernel with [[permAC]]/[[permBC]]. */
  def signature(shingles: Column, pa: Seq[Long], pb: Seq[Long]): Column = {
    import org.apache.spark.sql.graftbridge.{ColumnBridge, MinHashSignature}
    val hs = transform(shingles, s => hMod(s))
    ColumnBridge.column(
      MinHashSignature(ColumnBridge.expression(hs), pa, pb, P))
  }

  /** Interpreted HOF formulation of [[signature]] (one fold, elementwise
    * min inner transform); kept as the reference semantics for specs. */
  def signatureHof(shingles: Column): Column = {
    val aArr = array(permA.map(lit): _*)
    val bArr = array(permB.map(lit): _*)
    val hs = transform(shingles, s => hMod(s))
    aggregate(hs, array_repeat(lit(P), NumPerms),
      (acc, x) => transform(sequence(lit(0), lit(NumPerms - 1)),
        i => least(element_at(acc, i + 1),
          (element_at(aArr, i + 1) * x + element_at(bArr, i + 1)) % P)))
  }

  /** q24: MinHash + LSH banding → candidate pairs → exact-Jaccard
    * verification at J ≥ 0.8. Output shape matches q23: at these banding
    * parameters LSH recall at the threshold is ~1, which the oracle
    * (exact blocked Jaccard) checks. */
  def minhashLsh(s: SparkSession, dir: String): DataFrame =
    minhashLsh(Tables.documents(s, dir))

  /** Slim (doc_id, band, band_key) rows from a shingle-set frame.
    * The repartition is a materialization barrier: without it
    * CollapseProject re-inlines the signature computation (native
    * codegen, but still O(shingles × 128) per evaluation) into the
    * 32-band projection, recomputing it 32× per row. The band join
    * needs a shuffle anyway, so the barrier costs nothing extra; the
    * shingle arrays stay out of the 32× exploded shuffle and are
    * re-joined after pair dedup. */
  private def bandRows(sh: DataFrame): DataFrame = bandRows(sh, Bands, Rows)

  private[graft] def bandRows(sh: DataFrame, bands: Int, rows: Int): DataFrame = {
    val sig = sh.select(col("doc_id"), signature(col("shingles")).as("sig"))
      .repartition(col("doc_id"))
    sig.select(col("doc_id"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          b => concat_ws(",", slice(col("sig"), b * rows + 1, lit(rows)).cast("array<string>")))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "band_key")
  }

  def minhashLsh(docs: DataFrame): DataFrame =
    minhashLshPairs(docs).orderBy("a_id", "b_id")

  /** [[minhashLsh]] without the presentation sort — the
    * [[Cluster.pairsTable]] builder (jpairs_v3): band-join candidates +
    * exact verification. At 100× the bench scale this is what keeps the
    * shared pair table buildable — a band key encodes a Jaccard-
    * threshold test, so candidate volume tracks TRUE pair volume, where
    * the exact-complete prefix filter's Σ prefix-df² explodes once
    * common trigrams crowd the df cap (1.68B candidates at sf10, see
    * pairsTable). Recall is value-gated, not assumed: q23/q24 compare
    * this output to the exact-SQL oracle at every gated SF. */
  def minhashLshPairs(docs: DataFrame): DataFrame = {
    // materialized once: the shingle frame feeds the band build AND both
    // verify-join sides, each of which otherwise re-runs the tokenize +
    // shingle + distinct chain over the corpus (three text passes → one).
    // DISK_ONLY for the same reason as the q189 basket frame: the arrays
    // are the big payload, and sequential disk re-reads are cheaper than
    // locking the storage half of the unified pool at 100× scale.
    val sh = shingleSets(docs).filter(size(col("shingles")) > 0)
      .localCheckpoint(true, org.apache.spark.storage.StorageLevel.DISK_ONLY)
    val banded = bandRows(sh)
    val a = banded.select(col("doc_id").as("a_id"), col("band"), col("band_key"))
    val b = banded.select(col("doc_id").as("b_id"), col("band"), col("band_key"))
    val cand = a.join(b, Seq("band", "band_key")).filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id").dropDuplicates("a_id", "b_id")
    cand
      .join(sh.select(col("doc_id").as("a_id"), col("shingles").as("sa")), Seq("a_id"))
      .join(sh.select(col("doc_id").as("b_id"), col("shingles").as("sb")), Seq("b_id"))
      .withColumn("common", size(array_intersect(col("sa"), col("sb"))).cast("long"))
      .withColumn("na", size(col("sa"))).withColumn("nb", size(col("sb")))
      .withColumn("jaccard",
        col("common").cast("double") / (col("na") + col("nb") - col("common")).cast("double"))
      .filter(col("jaccard") >= Tau)
      .select(col("a_id"), col("b_id"), col("common"),
        col("na").cast("long").as("na"), col("nb").cast("long").as("nb"), col("jaccard"))
  }

  /** q187: MinHash estimator CALIBRATION audit — for every LSH band
    * candidate pair (q24's candidate set, BEFORE the τ verification),
    * compare the signature estimate Ĵ = matching-slots/128 against the
    * exact shingle Jaccard, bucketed by exact-J decile: the per-band
    * error curve that validates the (bands=32, rows=4) choice before
    * anyone trusts Ĵ at 100 TB, where exact verification of every
    * candidate is the cost being avoided (Broder 1997's estimator;
    * LSH-book banding analysis). A biased bucket here means the banding
    * needs re-tuning — found by measurement, not by the S-curve alone.
    *
    * Exactness: Ĵ and J quantize to micro integers via integer division
    * (matches·10⁶ div 128, common·10⁶ div union — SURVEY §5, no
    * doubles), so every sum/min/max in the rollup is exact integer
    * arithmetic and the single mean division closes it.
    *
    * Scale notes: reuses q24's slim (doc, band, key) band join for
    * candidates; signatures ride the doc_id-keyed joins (128 longs per
    * doc — the compressed representation, corpus-linear); the
    * per-pair slot comparison is a bounded 128-element fold; the
    * rollup is map-side-combined to ≤11 buckets × partitions. */
  def minhashCalibration(s: SparkSession, dir: String): DataFrame =
    minhashCalibration(Tables.documents(s, dir))

  def minhashCalibration(docs: DataFrame): DataFrame = {
    // same one-pass shingle barrier as minhashLshPairs: read by the band
    // build, the signature frame, and both exact-verify join sides
    val sh = shingleSets(docs).filter(size(col("shingles")) > 0)
      .localCheckpoint(true, org.apache.spark.storage.StorageLevel.DISK_ONLY)
    val sig = sh.select(col("doc_id"), signature(col("shingles")).as("sig"))
      .repartition(col("doc_id")) // same CollapseProject barrier as bandRows
    val banded = bandRows(sh)
    val a = banded.select(col("doc_id").as("a_id"), col("band"), col("band_key"))
    val b = banded.select(col("doc_id").as("b_id"), col("band"), col("band_key"))
    val cand = a.join(b, Seq("band", "band_key")).filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id").dropDuplicates("a_id", "b_id")
    val pairs = cand
      .join(sig.select(col("doc_id").as("a_id"), col("sig").as("siga")), Seq("a_id"))
      .join(sig.select(col("doc_id").as("b_id"), col("sig").as("sigb")), Seq("b_id"))
      .join(sh.select(col("doc_id").as("a_id"), col("shingles").as("sa")), Seq("a_id"))
      .join(sh.select(col("doc_id").as("b_id"), col("shingles").as("sb")), Seq("b_id"))
      .withColumn("matches", aggregate(
        zip_with(col("siga"), col("sigb"), (x, y) => when(x === y, 1L).otherwise(0L)),
        lit(0L), (acc, x) => acc + x))
      .withColumn("common", size(array_intersect(col("sa"), col("sb"))).cast("long"))
      .withColumn("uni",
        size(col("sa")).cast("long") + size(col("sb")).cast("long") - col("common"))
      .withColumn("est_micro", expr(s"(matches * 1000000) div $NumPerms"))
      .withColumn("ex_micro", expr("(common * 1000000) div uni"))
      .withColumn("err", col("est_micro") - col("ex_micro"))
    pairs
      .withColumn("j_bucket", expr("ex_micro div 100000"))
      .groupBy(col("j_bucket"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("est_micro")).as("sum_est"),
        sum(col("ex_micro")).as("sum_exact"),
        sum(col("err")).as("sum_err"),
        sum(abs(col("err"))).as("sum_abs_err"),
        max(abs(col("err"))).as("max_abs_err"))
      .withColumn("mean_abs_err_r",
        round(col("sum_abs_err").cast("double") / col("n_pairs").cast("double")
          / lit(1000000.0), 6))
      .orderBy("j_bucket")
  }

  /** q187 oracle: shingle/md5/permutation constants replayed in SQL —
    * signatures as a min-fold per permutation, band keys as the same
    * 4-slot comma strings, then the identical integer calibration. */
  def minhashCalibrationOracleSql: String = {
    val pa = permA.mkString("[", ",", "]")
    val pb = permB.mkString("[", ",", "]")
    s"""WITH w AS (SELECT doc_id, list_filter(string_split(text,' '), x -> x <> '') AS ws FROM documents),
       |shl AS (SELECT doc_id, CASE WHEN len(ws) < 3 THEN []
       |  ELSE list_distinct(list_transform(range(1, len(ws)-1),
       |         i -> ws[i]||' '||ws[i+1]||' '||ws[i+2])) END AS s FROM w),
       |hs AS (SELECT doc_id, CAST(len(s) AS BIGINT) AS n,
       |    list_transform(s, sg -> CAST(('0x' || substring(md5(sg),1,15)) AS BIGINT) % $P) AS hl
       |  FROM shl WHERE len(s) > 0),
       |pc AS (SELECT $pa AS pa, $pb AS pb),
       |sg AS (SELECT doc_id, n,
       |    list_transform(range(1, $NumPerms + 1), i ->
       |      list_reduce(list_prepend(CAST($P AS BIGINT),
       |        list_transform(hl, h -> (pc.pa[i]*h + pc.pb[i]) % $P)),
       |        (x,y) -> least(x,y))) AS sig
       |  FROM hs CROSS JOIN pc),
       |bd AS (SELECT doc_id, t.b AS band,
       |    array_to_string(sig[t.b*$Rows+1 : t.b*$Rows+$Rows], ',') AS band_key
       |  FROM sg CROSS JOIN range(0, $Bands) t(b)),
       |cand AS (SELECT a_id, b_id FROM (
       |    SELECT a.doc_id AS a_id, b.doc_id AS b_id
       |    FROM bd a JOIN bd b ON a.band = b.band AND a.band_key = b.band_key
       |      AND a.doc_id < b.doc_id)
       |  GROUP BY 1, 2),
       |ex AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, CAST(count(*) AS BIGINT) AS common
       |  FROM (SELECT doc_id, unnest(s) AS shingle FROM shl) a
       |  JOIN (SELECT doc_id, unnest(s) AS shingle FROM shl) b
       |    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |pm AS (SELECT cand.a_id, cand.b_id,
       |    CAST(len(list_filter(range(1, $NumPerms + 1), i -> sa.sig[i] = sb.sig[i])) AS BIGINT) AS matches,
       |    COALESCE(ex.common, 0) AS common, sa.n AS na, sb.n AS nb
       |  FROM cand JOIN sg sa ON sa.doc_id = cand.a_id
       |  JOIN sg sb ON sb.doc_id = cand.b_id
       |  LEFT JOIN ex ON ex.a_id = cand.a_id AND ex.b_id = cand.b_id),
       |x AS (SELECT (matches * 1000000) // $NumPerms AS est_micro,
       |    (common * 1000000) // (na + nb - common) AS ex_micro
       |  FROM pm),
       |y AS (SELECT ex_micro // 100000 AS j_bucket, est_micro, ex_micro,
       |    est_micro - ex_micro AS err FROM x)
       |SELECT j_bucket, CAST(COUNT(*) AS BIGINT) AS n_pairs,
       |  CAST(SUM(est_micro) AS BIGINT) AS sum_est,
       |  CAST(SUM(ex_micro) AS BIGINT) AS sum_exact,
       |  CAST(SUM(err) AS BIGINT) AS sum_err,
       |  CAST(SUM(ABS(err)) AS BIGINT) AS sum_abs_err,
       |  CAST(MAX(ABS(err)) AS BIGINT) AS max_abs_err,
       |  ROUND(CAST(SUM(ABS(err)) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / 1000000.0, 6) AS mean_abs_err_r
       |FROM y GROUP BY j_bucket ORDER BY j_bucket""".stripMargin
  }

  /** Permutations used for the SOURCE-level signatures (first 64 of
    * [[permA]]/[[permB]]): agreement/64 is dyadic, so the estimate
    * survives the exact-float gate. */
  val SrcPerms = 64

  /** q202: corpus-level source-similarity matrix — one MinHash
    * signature per SOURCE (the minimum of each permutation over the
    * source's UNION of shingle sets: set-union is exactly what MinHash
    * signatures merge by, the property that makes a per-partition /
    * per-day sketch foldable into a corpus sketch for free), then
    * pairwise signature agreement estimates the Jaccard similarity
    * BETWEEN sources. The corpus-mixture monitor upstream of q155's
    * domain drift: "these two crawls are 40 % the same corpus" is the
    * number that decides dedup-before-mix vs weight-down (reference
    * analog: the per-source facet panels, app.py:84-140).
    *
    * The exact source-level Jaccard (distinct-shingle intersection /
    * union) rides along as the verification column, q74's
    * truth-beside-sketch stance: at 100 TB the exact arm — which
    * carries every distinct (source, shingle) pair through a
    * shingle-keyed join — is the one you drop; the sketch arm folds
    * the same exploded frame map-side to sources × 64 minima and is
    * the plan. Pairs are sources², sources are enum-sized.
    *
    * Scale notes: one explode + distinct on (source, shingle) feeds
    * both arms; the signature aggregate map-combines (64 MIN columns);
    * the pair join is a broadcast over the sources-sized signature
    * table. Nothing here is ever corpus² — documents never pair with
    * documents. MIN is multiset-invariant, so when the exact column is
    * dropped at scale the sketch arm also drops the distinct: explode →
    * map-combined minima, no corpus-wide shuffle at all. */
  def sourceSimilarity(s: SparkSession, dir: String): DataFrame =
    sourceSimilarity(Tables.documents(s, dir))

  def sourceSimilarity(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.graftbridge.{ColumnBridge, WordShingles}
    val sh = docs.filter(col("source").isNotNull)
      .select(col("source"),
        ColumnBridge.column(WordShingles(ColumnBridge.expression(col("text")), 3))
          .as("shingles"))
      .filter(size(col("shingles")) > 0)
    val es = sh.select(col("source"), explode(col("shingles")).as("shingle"))
      .distinct()
    val hs = es.select(col("source"), hMod(col("shingle")).as("h"))
    val minAggs = (0 until SrcPerms).map(i =>
      min((lit(permA(i)) * col("h") + lit(permB(i))) % lit(P)).as(s"m$i"))
    val sigArr = array((0 until SrcPerms).map(i => col(s"m$i")): _*)
    val ns = es.groupBy(col("source")).agg(count(lit(1)).as("n_shingles"))
    val sigs = hs.groupBy(col("source")).agg(minAggs.head, minAggs.tail: _*)
      .join(ns, Seq("source"))
      .select(col("source"), sigArr.as("sig"), col("n_shingles"))
    val a = sigs.select(col("source").as("source_a"), col("sig").as("sig_a"),
      col("n_shingles").as("n_a"))
    val b = sigs.select(col("source").as("source_b"), col("sig").as("sig_b"),
      col("n_shingles").as("n_b"))
    val pairs = a.join(broadcast(b), col("source_a") < col("source_b"))
    val common = es.select(col("source").as("source_a"), col("shingle"))
      .join(es.select(col("source").as("source_b"), col("shingle")), Seq("shingle"))
      .filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("common"))
    pairs.join(common, Seq("source_a", "source_b"), "left")
      .withColumn("common", coalesce(col("common"), lit(0L)))
      .withColumn("n_agree", aggregate(
        zip_with(col("sig_a"), col("sig_b"),
          (x, y) => when(x === y, 1L).otherwise(0L)),
        lit(0L), (acc, x) => acc + x))
      .withColumn("uni", col("n_a") + col("n_b") - col("common"))
      .select(col("source_a"), col("source_b"), col("n_a"), col("n_b"),
        col("common"), col("uni"), col("n_agree"),
        expr(s"(n_agree * 1000000) div $SrcPerms").as("est_j_micro"),
        expr("(common * 1000000) div uni").as("exact_j_micro"))
      .orderBy(col("source_a"), col("source_b"))
  }

  /** q202 oracle: the q187 shingle/md5/permutation replay keyed by
    * source, signatures as per-permutation grouped minima. */
  def sourceSimilarityOracleSql: String = {
    val pa = permA.take(SrcPerms).mkString("[", ",", "]")
    val pb = permB.take(SrcPerms).mkString("[", ",", "]")
    s"""WITH w AS (SELECT source, list_filter(string_split(text,' '), x -> x <> '') AS ws
       |  FROM documents WHERE source IS NOT NULL),
       |shl AS (SELECT source, CASE WHEN len(ws) < 3 THEN []
       |  ELSE list_distinct(list_transform(range(1, len(ws)-1),
       |         i -> ws[i]||' '||ws[i+1]||' '||ws[i+2])) END AS s FROM w),
       |es AS (SELECT DISTINCT source, shingle FROM
       |  (SELECT source, unnest(s) AS shingle FROM shl WHERE len(s) > 0)),
       |hs AS (SELECT source,
       |    CAST(('0x' || substring(md5(shingle),1,15)) AS BIGINT) % $P AS h
       |  FROM es),
       |pc AS (SELECT $pa AS pa, $pb AS pb),
       |sig AS (SELECT source, i, MIN((pc.pa[i]*h + pc.pb[i]) % $P) AS m
       |  FROM hs CROSS JOIN pc CROSS JOIN range(1, ${SrcPerms + 1}) t(i)
       |  GROUP BY 1, 2),
       |ns AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM es GROUP BY 1),
       |ag AS (SELECT a.source AS source_a, b.source AS source_b,
       |    CAST(SUM(CASE WHEN a.m = b.m THEN 1 ELSE 0 END) AS BIGINT) AS n_agree
       |  FROM sig a JOIN sig b ON a.i = b.i AND a.source < b.source
       |  GROUP BY 1, 2),
       |cm AS (SELECT a.source AS source_a, b.source AS source_b,
       |    CAST(COUNT(*) AS BIGINT) AS common
       |  FROM es a JOIN es b ON a.shingle = b.shingle AND a.source < b.source
       |  GROUP BY 1, 2)
       |SELECT ag.source_a, ag.source_b, na.n AS n_a, nb.n AS n_b,
       |  COALESCE(cm.common, 0) AS common,
       |  na.n + nb.n - COALESCE(cm.common, 0) AS uni,
       |  ag.n_agree,
       |  (ag.n_agree * 1000000) // $SrcPerms AS est_j_micro,
       |  (COALESCE(cm.common, 0) * 1000000)
       |    // (na.n + nb.n - COALESCE(cm.common, 0)) AS exact_j_micro
       |FROM ag
       |JOIN ns na ON na.source = ag.source_a
       |JOIN ns nb ON nb.source = ag.source_b
       |LEFT JOIN cm ON cm.source_a = ag.source_a AND cm.source_b = ag.source_b
       |ORDER BY 1, 2""".stripMargin
  }

  /** Boundary for q71's deterministic corpus/batch split: doc_id <
    * [[IncrementalCorpusMax]] plays the already-validated corpus. */
  val IncrementalCorpusMax = 250L

  /** q71: incremental TEXT dedup — the reference's daily-ingest shape
    * (deduplicate_from_qdrant.py:160-186, batch loop :224-310) for
    * documents, the text twin of q42's embedding variant: a new batch
    * is candidate-joined against the ALREADY-VALIDATED corpus only
    * (never batch × batch — pending docs can't canonicalize each
    * other), via shared MinHash band keys; exact Jaccard verifies; each
    * batch doc inherits the canonical id of its best J ≥ τ corpus match
    * (ties → lowest id, via the bounded-heap top-1 aggregate) or mints
    * itself.
    *
    * Scale: candidates are a corpus×batch bucket join on slim band
    * rows, so daily-ingest work is O(batch · corpus / buckets), not
    * O(corpus²); the heap agg ships ≤1 row per (partition, batch doc). */
  def dedupIncrementalText(s: SparkSession, dir: String): DataFrame = {
    // Build-once corpus side (ArtifactStore, same pattern as the q23
    // pair table): the validated corpus's shingle sets and MinHash band
    // rows are pure functions of the corpus text, so a daily-ingest run
    // pays them once per corpus state instead of once per batch. The
    // artifact holds both tables under one atomic publish.
    val docs = Tables.documents(s, dir)
    val path = graft.ArtifactStore.ensureCurrent(s, "inc_corpus_text_v1",
      Tables.dirFingerprint(s, dir)) { staging =>
      val shc = shingleSets(docs.filter(col("doc_id") < IncrementalCorpusMax))
        .filter(size(col("shingles")) > 0)
      writeTable(bandRows(shc).select(col("doc_id").as("c_id"), col("band"), col("band_key")),
        staging + "/bands")
      writeTable(shc.select(col("doc_id").as("c_id"), col("shingles").as("sc")),
        staging + "/shingles")
    }
    dedupIncrementalTextPre(readTable(s, path + "/bands"),
      readTable(s, path + "/shingles"), docs, IncrementalCorpusMax)
  }

  def dedupIncrementalText(docs: DataFrame, corpusMax: Long): DataFrame = {
    val shc = shingleSets(docs.filter(col("doc_id") < corpusMax))
      .filter(size(col("shingles")) > 0)
    dedupIncrementalTextPre(
      bandRows(shc).select(col("doc_id").as("c_id"), col("band"), col("band_key")),
      shc.select(col("doc_id").as("c_id"), col("shingles").as("sc")),
      docs, corpusMax)
  }

  /** [[dedupIncrementalText]] against an already-derived (possibly
    * artifact-stored) corpus side: `corpusBands` = (c_id, band,
    * band_key), `corpusShingles` = (c_id, sc). Only the BATCH side is
    * shingled and banded here. */
  def dedupIncrementalTextPre(corpusBands: DataFrame, corpusShingles: DataFrame,
      docs: DataFrame, corpusMax: Long): DataFrame = {
    val shb = shingleSets(docs.filter(col("doc_id") >= corpusMax))
      .filter(size(col("shingles")) > 0)
    val batchB = bandRows(shb)
      .select(col("doc_id").as("b_id"), col("band"), col("band_key"))
    val cand = batchB.join(corpusBands, Seq("band", "band_key"))
      .select("b_id", "c_id").dropDuplicates("b_id", "c_id")
    val verified = cand
      .join(shb.select(col("doc_id").as("b_id"), col("shingles").as("sb")), Seq("b_id"))
      .join(corpusShingles, Seq("c_id"))
      .withColumn("common", size(array_intersect(col("sb"), col("sc"))).cast("double"))
      .withColumn("j", col("common") /
        (size(col("sb")) + size(col("sc")) - col("common")).cast("double"))
      .filter(col("j") >= Tau)
    val best = verified.groupBy(col("b_id"))
      .agg(Similarity.topKAgg(col("j"), col("c_id"), 1).as("tk"))
      .select(col("b_id"), element_at(col("tk"), 1).as("m"))
      .select(col("b_id"), col("m.id").as("c_id"), col("m.sim").as("j"))
    docs.filter(col("doc_id") >= corpusMax).select(col("doc_id"))
      .join(best.withColumnRenamed("b_id", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("c_id"), col("doc_id")).as("canonical_id"),
        col("c_id").isNotNull.as("matched"),
        round(coalesce(col("j"), lit(0.0)), 9).as("best_j_r"))
      .orderBy("doc_id")
  }

  /** Per-word 60-bit md5 hashes of a documents frame: (doc_id, hw). */
  private def wordHashes(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      transform(TextAnalysis.words(col("text")), w => TextAnalysis.md5Long(w)).as("hw"))

  /** Native 60-bit simhash column over an array<long> word-hash column
    * (see [[org.apache.spark.sql.graftbridge.SimHash64]]). */
  def simhashCol(hw: Column): Column = {
    import org.apache.spark.sql.graftbridge.{ColumnBridge, SimHash64}
    ColumnBridge.column(SimHash64(ColumnBridge.expression(hw), 60))
  }

  /** Interpreted nested-HOF simhash (the reference semantics the native
    * kernel is spec-checked bit-identical against): per bit j, the fold
    * sums ±1 votes over every word hash — O(60 × words) interpreted
    * expression evals per row. */
  def simhashHof(docs: DataFrame): DataFrame =
    wordHashes(docs).selectExpr("doc_id",
      s"""aggregate(sequence(0, 59), cast(0 as bigint), (acc, j) ->
         |  acc + CASE WHEN aggregate(hw, cast(0 as bigint),
         |      (a2, h) -> a2 + 2 * (shiftright(h, j) & 1) - 1) > 0
         |    THEN shiftleft(cast(1 as bigint), j) ELSE cast(0 as bigint) END
         |) as simhash""".stripMargin)

  /** q25: 60-bit SimHash per document + band-rotation candidate/Hamming≤3
    * neighbor counts. The signature is the native [[simhashCol]] kernel;
    * banding stays expression-built (SQL strings) because the bit shifts
    * take column-valued shift amounts. */
  def simhash(s: SparkSession, dir: String): DataFrame =
    simhash(Tables.documents(s, dir))

  def simhash(docs: DataFrame): DataFrame = {
    val sim = wordHashes(docs).select(col("doc_id"), simhashCol(col("hw")).as("simhash"))
    val banded = sim.selectExpr("doc_id", "simhash",
        "posexplode(transform(sequence(0, 3), b -> shiftright(simhash, b * 15) & 32767))")
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "band_key")
    val a = banded.select(col("doc_id").as("a_id"), col("simhash").as("ha"),
      col("band"), col("band_key"))
    val b = banded.select(col("doc_id").as("b_id"), col("simhash").as("hb"),
      col("band"), col("band_key"))
    val cand = a.join(b, Seq("band", "band_key")).filter(col("a_id") =!= col("b_id"))
      .select("a_id", "b_id", "ha", "hb").dropDuplicates("a_id", "b_id")
      .withColumn("hamming", expr("bit_count(ha ^ hb)"))
    val counts = cand.groupBy(col("a_id").as("doc_id"))
      .agg(count(lit(1)).as("n_band_candidates"),
        sum(when(col("hamming") <= 3, 1L).otherwise(0L)).as("n_hamming_le3"))
    sim.select("doc_id", "simhash")
      .join(counts, Seq("doc_id"), "left")
      .select(col("doc_id"), col("simhash"),
        coalesce(col("n_band_candidates"), lit(0L)).as("n_band_candidates"),
        coalesce(col("n_hamming_le3"), lit(0L)).as("n_hamming_le3"))
      .orderBy("doc_id")
  }

  /** Edit-distance threshold for [[fuzzyMatch]]: ≤ 2 edits flags the
    * adjective-swap / typo class without matching across part families. */
  val FuzzyMaxDist = 2
  /** Key-packing base for the deterministic best-match argmin: encodes
    * (dist, key) as `dist·10⁶ + key` so MIN picks the closest match,
    * smallest key first. Valid while keys < 10⁶ (holds through sf1's
    * 200k parts; a guard filter enforces it). */
  val FuzzyKeyBase = 1000000L

  /** q163: blocked fuzzy entity matching — near-identical `p_name`
    * variants inside a `p_brand` block, by Levenshtein distance ≤
    * [[FuzzyMaxDist]]. The string-similarity member of the dedup family
    * (SURVEY §2d): exact (q22), shingle-Jaccard (q23), MinHash (q24),
    * SimHash (q25), embedding (q26) — and here character-level edit
    * distance, the classic record-linkage scorer for short attribute
    * strings (names, titles, SKUs; the reference dedups heritage records
    * whose titles differ by an edit, deduplicate_from_qdrant.py:160-186
    * does it vector-side). Per left row: candidate count, closest
    * distance, and a deterministic best match (min dist, then min key).
    *
    * Cross-engine exactness: Spark's `levenshtein` counts code points,
    * DuckDB's counts BYTES — divergent on any multibyte name, so both
    * sides restrict to single-byte (ASCII) names where the two metrics
    * coincide (`length = octet_length`); the aggregate is pure-integer
    * (COUNT/MIN over the packed `dist·10⁶+key`).
    *
    * Scale notes: VOCABULARY-bound, not corpus-bound. Attribute strings
    * repeat, so the rows collapse to distinct (brand, name) groups first
    * (one map-combined count) and Levenshtein runs once per group pair —
    * |vocab|²-per-brand work that stays CONSTANT as the corpus grows
    * (the naive row-pair block join grew 13× at 10× data; group counts
    * held at 1,600 from sf0.1 to sf1). Per-row answers expand back by
    * arithmetic on group counts through two broadcast joins of the
    * vocabulary-sized tables; the char-length prefilter and the banded
    * threshold kernel prune the group-pair work further. A genuinely
    * unbounded name space degrades toward q53-salted blocks; the
    * distinct-collapse is still the first move. */
  def fuzzyMatch(s: SparkSession, dir: String): DataFrame =
    fuzzyMatch(Tables.part(s, dir))

  def fuzzyMatch(part: DataFrame): DataFrame = {
    // Group-collapsed plan (the r7b growth run caught the naive row-pair
    // join growing 13× at 10× data — block² row pairs): attribute names
    // draw from a bounded VOCABULARY, so edit distance is computed once
    // per distinct (brand, name) PAIR OF GROUPS — constant work as the
    // corpus grows — and per-row results expand back arithmetically:
    //   n_fuzzy(x)  = Σ_{H≠G, d_H≤2} cnt_H + (cnt_G − 1)
    //   best enc(x) = min( d_H·B + minkey_H ;  own-group arm at d=0:
    //                 the group's min key — or its SECOND min when x IS
    //                 the min — when cnt_G > 1 )
    // identical, row for row, to the naive all-pairs semantics the
    // oracle still replays.
    val p = part
      .filter(col("p_partkey").isNotNull && col("p_name").isNotNull &&
        col("p_brand").isNotNull &&
        length(col("p_name")) === octet_length(col("p_name")) &&
        col("p_partkey") >= 0L && col("p_partkey") < FuzzyKeyBase)
      .select(col("p_partkey"), col("p_name"), col("p_brand"))
    val grp = p.groupBy(col("p_brand"), col("p_name"))
      .agg(count(lit(1)).as("cnt"), min(col("p_partkey")).as("min_key"))
    // second-smallest key per group (NULL for singleton groups): needed
    // when the min-key row looks for its own d=0 best match
    val min2 = p.join(grp, Seq("p_brand", "p_name"))
      .filter(col("p_partkey") =!= col("min_key"))
      .groupBy(col("p_brand"), col("p_name"))
      .agg(min(col("p_partkey")).as("min2_key"))
    val gstats = grp.join(min2, Seq("p_brand", "p_name"), "left")
    // cross-group candidates: vocabulary² per brand, threshold-banded
    // levenshtein (early exit −1 past k=2)
    val a = gstats.select(col("p_brand").as("brand"), col("p_name").as("a_name"))
    val b = gstats.select(col("p_brand").as("brand"), col("p_name").as("b_name"),
      col("cnt").as("b_cnt"), col("min_key").as("b_min"))
    val cross = a.join(b, Seq("brand"))
      .filter(col("a_name") =!= col("b_name") &&
        abs(length(col("a_name")) - length(col("b_name"))) <= FuzzyMaxDist)
      .withColumn("d",
        levenshtein(col("a_name"), col("b_name"), FuzzyMaxDist).cast("long"))
      .filter(col("d") >= 0L && col("d") <= FuzzyMaxDist)
      .groupBy(col("brand").as("p_brand"), col("a_name").as("p_name"))
      .agg(sum(col("b_cnt")).as("cross_cnt"),
        min(col("d") * FuzzyKeyBase + col("b_min")).as("cross_enc"))
    val Sentinel = (FuzzyMaxDist + 1).toLong * FuzzyKeyBase * 10L
    p.join(broadcast(gstats), Seq("p_brand", "p_name"))
      .join(broadcast(cross), Seq("p_brand", "p_name"), "left")
      .withColumn("n_fuzzy", coalesce(col("cross_cnt"), lit(0L)) + col("cnt") - 1L)
      .filter(col("n_fuzzy") > 0L)
      .withColumn("own_enc",
        when(col("cnt") > 1L,
          when(col("p_partkey") === col("min_key"), col("min2_key"))
            .otherwise(col("min_key")))
          .otherwise(lit(null).cast("long")))
      .withColumn("enc", least(coalesce(col("own_enc"), lit(Sentinel)),
        coalesce(col("cross_enc"), lit(Sentinel))))
      .select(col("p_partkey"), col("p_name"), col("n_fuzzy"),
        expr(s"enc div $FuzzyKeyBase").as("min_dist"),
        pmod(col("enc"), lit(FuzzyKeyBase)).as("best_match_key"))
      .orderBy("p_partkey")
  }

  /** q163 oracle: same blocking, prefilter, threshold, and packed argmin. */
  def fuzzyMatchOracleSql: String =
    s"""WITH p AS (SELECT p_partkey, p_name, p_brand FROM part
      |  WHERE p_partkey IS NOT NULL AND p_name IS NOT NULL AND p_brand IS NOT NULL
      |    AND length(p_name) = strlen(p_name)
      |    AND p_partkey >= 0 AND p_partkey < $FuzzyKeyBase),
      |d AS (SELECT a.p_partkey AS a_key, a.p_name AS a_name,
      |    CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS d, b.p_partkey AS b_key
      |  FROM p a JOIN p b ON a.p_brand = b.p_brand
      |    AND a.p_partkey <> b.p_partkey
      |    AND abs(length(a.p_name) - length(b.p_name)) <= $FuzzyMaxDist)
      |SELECT a_key AS p_partkey, a_name AS p_name,
      |  CAST(COUNT(*) AS BIGINT) AS n_fuzzy,
      |  MIN(d) AS min_dist,
      |  MIN(d * $FuzzyKeyBase + b_key) % $FuzzyKeyBase AS best_match_key
      |FROM d WHERE d <= $FuzzyMaxDist
      |GROUP BY 1, 2 ORDER BY 1""".stripMargin
}
