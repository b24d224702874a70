package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ArtifactStore.{readTable, writeTable}
import graft.Tables

/** Connected-components clustering over near-duplicate pair edges — the
  * step that turns PAIRS (q23/q24/q40 output) into transitive dedup
  * CLUSTERS with one canonical id each. The reference's dedup inherits a
  * canonical_id from whichever validated neighbor matched first
  * (deduplicate_from_qdrant.py:160-186), which makes chains a~b~c share
  * one id only by scan order; connected components computes the same
  * closure order-independently, the way a distributed engine must.
  *
  * Scale notes: a pair graph of at most [[SmallGraphEdges]] (2^22)
  * undirected edge rows is labeled by ONE single-task union-find; above
  * that, the iteration is min-label propagation with pointer jumping —
  * each round is two equi-join shuffles on node id, and the label tree
  * height halves per round, so rounds = O(log diameter). Near-dup
  * clusters are shallow (dozens of members, diameter ≤ a few hops), so
  * the loop converges in 2-3 rounds at any corpus size; the edge list is
  * checkpointed once and reused. No driver-side data beyond the one-row
  * convergence check per round. The graph operators build their
  * adjacency with [[undirected]]; the data-dependent loops (this one, the
  * k-core peel) share [[iterateToFixpoint]], and the fixed-round ones
  * (label propagation, PageRank, hops) fold over the rounds their oracles
  * unroll.
  */
object Cluster {

  /** Both directions of every (a_id, b_id) edge as (src, dst): the
    * undirected adjacency the graph operators walk. */
  private def undirected(edges: DataFrame): DataFrame =
    edges.select(col("a_id").as("src"), col("b_id").as("dst"))
      .unionByName(edges.select(col("b_id").as("src"), col("a_id").as("dst")))

  /** [[undirected]] hash-partitioned on `key` and checkpointed once: the
    * checkpoint keeps the partitioning, so every later join on `key`
    * leaves the 2|E| edge side in place and moves only the other side. */
  private def undirectedOn(edges: DataFrame, key: String): DataFrame =
    undirected(edges).repartition(col(key)).localCheckpoint()

  /** The one round loop of the data-dependent graph operators: from
    * `init` (already converged when `done`), each `round`'s frame is
    * `localCheckpoint`ed and handed with the previous state to `settle`,
    * the caller's convergence test on that checkpointed frame, which
    * returns the next state and whether it is the fixpoint. Still not
    * converged after `maxRounds` rounds THROWS: truncated output is
    * silently wrong (split components, a superset core). */
  private def iterateToFixpoint[S](init: S, done: Boolean, maxRounds: Int,
      what: String)(round: S => DataFrame)(
      settle: (S, DataFrame) => (S, Boolean)): S = {
    @annotation.tailrec
    def go(s: S, done: Boolean, n: Int): S =
      if (done) s
      else if (n == maxRounds)
        throw new IllegalStateException(
          s"$what still changing after $maxRounds rounds — refusing to " +
            "truncate; raise the round cap if a graph this deep is expected")
      else {
        val (next, fixed) = settle(s, round(s).localCheckpoint())
        go(next, fixed, n + 1)
      }
    go(init, done, 0)
  }

  /** Below this undirected-edge count the min-label fixpoint runs as ONE
    * single-task union-find instead of the distributed join loop: on a
    * small pair graph the per-round joins/checkpoints are pure scheduling
    * latency (q46 measured 35 jobs for a graph of a few thousand edges),
    * and the fixpoint — every node labeled with the minimum reachable
    * id — is UNIQUE, so both paths return identical labels
    * (spec-checked). 2^22 edge rows ≈ 64 MB of longs in the one task;
    * near-dup pair graphs stay far below this at any corpus size
    * (candidates track true pair volume), while a genuinely huge graph
    * keeps the proven loop. */
  val SmallGraphEdges = 1L << 22

  /** Labels each node with the minimum node id reachable through `edges`
    * (undirected). `nodes`: one `id` column; `edges`: `a_id`, `b_id`.
    * Returns (id, label).
    *
    * Only nodes that appear in an edge enter the iteration: under dedup
    * the pair graph touches a small fraction of the corpus, so the
    * per-round shuffles run over |edge endpoints| rows, not |corpus| —
    * the difference between iterating over megabytes and over the full
    * 100 TB table. Edge-free nodes are singleton components and get
    * label = id through one final left join.
    *
    * The distributed loop runs through [[iterateToFixpoint]], so it
    * throws `IllegalStateException` when labels still change in round
    * `maxIter`: truncated labels would split components silently. */
  def connectedComponents(nodes: DataFrame, edges: DataFrame,
      maxIter: Int = 25, smallGraphMax: Long = SmallGraphEdges): DataFrame = {
    // keyed by dst: each round's neighbor join moves only the labels
    // side, never the 2|E| edge side (the largest frame in the loop)
    val und = undirectedOn(edges, "dst")
    val labels = if (und.count() <= smallGraphMax) {
      val spark = nodes.sparkSession
      import spark.implicits._
      und
        .filter(col("src").isNotNull && col("dst").isNotNull)
        .select(col("src").cast("long"), col("dst").cast("long"))
        .as[(Long, Long)]
        .coalesce(1)
        .mapPartitions { it =>
          // union-find with path halving; union attaches the LARGER root
          // under the smaller, so each tree's root is the component's
          // minimum id — the same fixpoint the join loop converges to
          val parent = scala.collection.mutable.LongMap.empty[Long]
          def find(x0: Long): Long = {
            var x = x0
            while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
            x
          }
          it.foreach { case (a, b) =>
            if (!parent.contains(a)) parent(a) = a
            if (!parent.contains(b)) parent(b) = b
            val ra = find(a); val rb = find(b)
            if (ra < rb) parent(rb) = ra
            else if (rb < ra) parent(ra) = rb
          }
          // snapshot the keys BEFORE resolving: find() path-halves (it
          // mutates parent), and mutating a LongMap mid-iteration is
          // undefined
          val keys = parent.keysIterator.toArray
          keys.iterator.map(k => (k, find(k)))
        }
        .toDF("id", "label")
    } else iterateToFixpoint(
        und.select(col("src").as("id")).distinct()
          .select(col("id"), col("id").as("label")).localCheckpoint(),
        done = false, maxIter, "connected components") { labels =>
      // 1) neighbor-min: label <- min(label, min of neighbors' labels)
      val nbr = und
        .join(labels.select(col("id").as("dst"), col("label").as("dlabel")), Seq("dst"))
        .groupBy(col("src").as("id")).agg(min(col("dlabel")).as("nbr_label"))
      val prop = labels.join(nbr, Seq("id"), "left")
        .select(col("id"), col("label").as("old_label"),
          least(col("label"), coalesce(col("nbr_label"), col("label"))).as("label"))
      // 2) pointer jumping: label <- label's label (labels are always
      // node ids, so the parent lookup is total) — halves tree height.
      // The pre-round label rides along from `prop` so the convergence
      // check scans the checkpointed frame: no extra join back to
      // `labels`, one fewer shuffle per round.
      val parent = prop.select(col("id").as("pid"), col("label").as("plabel"))
      prop.join(parent, prop("label") === parent("pid"))
        .select(prop("id"), prop("old_label"), col("plabel").as("label"))
    } { (_, jumped) =>
      (jumped.select("id", "label"),
        jumped.filter(col("label") =!= col("old_label")).limit(1).count() == 0L)
    }
    // singleton components: every node with no edge labels itself
    nodes.join(labels, Seq("id"), "left")
      .select(col("id"), coalesce(col("label"), col("id")).as("label"))
  }

  /** Total integer PageRank mass and damping (85/100) for [[pagerank]]. */
  val PrMass = 1000000000000L // 10^12
  val PrRounds = 3

  /** The τ=0.8 Jaccard pair table materialized ONCE per source dir and
    * shared by every consumer — q23 reads it verbatim (it IS q23's
    * output), q46/q87/q93/q117/q121/q138/q141/q158/q195 use the
    * (a_id, b_id) edges — at 100 TB the pair join is the expensive step
    * and each downstream pass reads the materialized result, exactly
    * like q72 serves reads off the persisted IVF index. Stored with the
    * full verified columns (common/na/nb/jaccard ride along at ~24
    * bytes/pair). Resolved through [[graft.ArtifactStore]] (Hadoop FS +
    * atomic staging rename); content-fingerprinted name
    * (Tables.dirFingerprint covers size and mtime, the literal version
    * covers layout changes) ⇒ the existence check can never serve a
    * stale artifact.
    *
    * v3 (the round-8 100× lesson): the builder is the LSH band join +
    * exact verification ([[ApproxDedup.minhashLshPairs]]), NOT the
    * exact-complete prefix filter ([[ApproxDedup.ngramJaccardPairs]]).
    * Prefix blocking's candidate volume is Σ_shingle prefix-df² and a
    * FIXED df cap stops protecting it as the corpus grows: common
    * trigrams' df scales WITH the corpus, so ever more shingles crowd
    * the band just under the cap — measured at sf10 (100× the bench
    * SF): 1.68 BILLION candidate pairs (max prefix-df 903 under the
    * 1000 cap), >60 GB of shuffle spill, disk exhaustion; the banded
    * builder's candidates stay true-pair-sized because a band key is a
    * Jaccard-threshold test, not a shared-token test. Banding recall
    * is not assumed: the q23/q24 gates value-check this table against
    * the exact-SQL oracle at every gated SF, so a recall miss is a
    * gate FAIL, and the exact-complete prefix path stays available as
    * the frame-API overloads (spec-exercised). */
  private[operators] def pairsTable(s: SparkSession, dir: String): DataFrame = {
    val path = graft.ArtifactStore.ensureCurrent(s,
      "jpairs_v3", Tables.dirFingerprint(s, dir)) { staging =>
      writeTable(ApproxDedup.minhashLshPairs(Tables.documents(s, dir)), staging)
    }
    readTable(s, path)
  }

  /** Rounds and seed rule for [[labelPropagation]]. */
  val LpRounds = 3
  val LpSeedMod = 10

  /** q117: semi-supervised label propagation over the near-dup pair
    * graph — the third graph consumer of the shared τ=0.8 pair table
    * (q46 components, q87 centrality, here label spread): a sparse
    * labeled subset (every [[LpSeedMod]]-th doc, labeled with its
    * lang) propagates to its near-dup neighborhood by synchronous
    * majority vote, [[LpRounds]] rounds. The metadata-repair move for
    * scraped corpora: near-duplicate documents share provenance, so a
    * doc with missing/untrusted metadata inherits the consensus of its
    * duplicates.
    *
    * Deterministic by construction: seeds never flip; a non-seed takes
    * the round's majority neighbor label (count desc, label asc — a
    * total order) and KEEPS its previous label when no labeled
    * neighbor exists; integer vote counts only.
    *
    * Scale notes: the undirected edge frame is [[undirectedOn]] src —
    * checkpointed once, pre-partitioned so each round only shuffles the
    * (node-sized) label frame into the join plus one edge-sized vote
    * aggregation; rounds are fixed, and only edge-touched nodes can ever
    * change, so per-round work is O(|E|) regardless of corpus size. */
  def labelPropagation(s: SparkSession, dir: String): DataFrame =
    labelPropagationGraph(Tables.documents(s, dir),
      pairsTable(s, dir).select("a_id", "b_id"))

  def labelPropagationGraph(docs: DataFrame, edges: DataFrame): DataFrame = {
    val und = undirectedOn(edges, "src")
    val seeded = docs.select(col("doc_id"),
      when(col("doc_id") % LpSeedMod === 0, coalesce(col("lang"), lit("")))
        .as("label"))
      .localCheckpoint()
    val labels = (1 to LpRounds).foldLeft(seeded) { (cur, _) =>
      val votes = und
        .join(cur.select(col("doc_id").as("src"), col("label").as("slabel")),
          Seq("src"))
        .where(col("slabel").isNotNull)
        .groupBy(col("dst"), col("slabel")).agg(count(lit(1)).as("c"))
      // majority = highest count, ties to the lexicographically smallest
      // label. min over struct(-c, slabel) orders by count DESC then
      // label ASC — the round-12 verdict's job-count cut: the old
      // max-count frame + equality join re-ran the whole votes subtree
      // (edge join + aggregate) twice per round; one partial-aggregable
      // min computes the identical winner in a single pass.
      val best = votes.groupBy(col("dst"))
        .agg(min(struct((-col("c")).as("nc"), col("slabel"))).as("m"))
        .select(col("dst"), col("m.slabel").as("blabel"))
      cur.join(best, cur("doc_id") === best("dst"), "left")
        .select(col("doc_id"),
          when(col("doc_id") % LpSeedMod === 0, col("label"))
            .otherwise(coalesce(col("blabel"), col("label"))).as("label"))
        .localCheckpoint()
    }
    labels.select(col("doc_id"), coalesce(col("label"), lit("")).as("label"))
      .orderBy("doc_id")
  }

  /** q87: PageRank over the near-dup pair graph — graph centrality as a
    * curation signal: a doc whose near-dup neighborhood is large and
    * well-connected is template/boilerplate-like; rank concentrates
    * there. Fixed-point INTEGER arithmetic throughout (mass 10^12,
    * floor-division contributions, damping 85/100 as integer mul/div):
    * deterministic under any partitioning and replayable by the oracle's
    * unrolled CTE chain — float PageRank would be neither.
    *
    * Scale notes: the edge list joins rank once per round on the source
    * id (edge frame pre-joined with out-degrees and checkpointed once);
    * each round is one equi-join + one map-combined integer-sum agg.
    * Only edge-touched nodes iterate — an isolated node's rank is the
    * closed-form base after round 1, applied in the final projection,
    * so the per-round shuffles scan |E|, not |corpus|. Mass parked on
    * isolated nodes leaks (no dangling redistribution) — deliberate,
    * documented, and identical in the oracle. */
  def pagerank(s: SparkSession, dir: String): DataFrame =
    pagerankOf(Tables.documents(s, dir), pairsTable(s, dir))

  /** Frame-API variant computing the edges inline (no materialization). */
  def pagerank(docs: DataFrame): DataFrame =
    pagerankOf(docs, ApproxDedup.ngramJaccardPairs(docs).select("a_id", "b_id"))

  private def pagerankOf(docs: DataFrame, edges: DataFrame): DataFrame =
    pagerankGraph(docs.select(col("doc_id").as("id")), edges, docs.count())
      .select(col("id").as("doc_id"), col("pr_int"))
      .orderBy("doc_id")

  /** Integer PageRank over explicit undirected pair edges; `nTotal` is
    * the full node population (isolated nodes get the closed-form base
    * without entering the iteration). */
  def pagerankGraph(nodes: DataFrame, edges: DataFrame, nTotal: Long): DataFrame = {
    // zero nodes: PrMass / nTotal would divide by zero; nodes is empty
    // by definition, so the typed empty result is the answer
    if (nTotal == 0L)
      return nodes.select(col("id"), lit(0L).as("pr_int"))
    val und = undirected(edges)
    val deg = und.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    // (src, dst, deg) materialized once; every round re-reads it
    val undDeg = und.join(deg, Seq("src")).localCheckpoint()
    val r0 = PrMass / nTotal
    val base = 15L * r0 / 100L
    val rank0 = undDeg.select(col("src").as("id")).distinct()
      .withColumn("r", lit(r0)).localCheckpoint()
    val rank = (1 to PrRounds).foldLeft(rank0) { (prev, _) =>
      undDeg
        .join(prev.withColumnRenamed("id", "src"), Seq("src"))
        .select(col("dst").as("id"), expr("r DIV deg").as("c"))
        .groupBy(col("id"))
        .agg(sum(col("c")).as("s"))
        .select(col("id"), (lit(base) + expr("85 * s DIV 100")).as("r"))
        .localCheckpoint()
    }
    nodes.join(rank, Seq("id"), "left")
      .select(col("id"), coalesce(col("r"), lit(base)).as("pr_int"))
  }

  /** q93: dedup survivorship — after q46's transitive clustering, ONE
    * canonical document survives per cluster by the survivorship rule
    * (longest text, ties → lowest doc_id); every member maps to its
    * survivor. This is the keep/drop decision that actually shrinks the
    * corpus — clusters say what's duplicated, survivorship says what
    * ships (the reference keeps whichever validated point matched
    * first, scan-order-dependent; this rule is deterministic).
    *
    * Scale notes: survivor selection is a declarative MAX over the
    * lexicographic struct (n_chars, -doc_id) — partial-aggregable, so
    * ≤1 row per (partition, cluster) enters the shuffle and no
    * per-cluster window sort runs; exact at any id/n_chars magnitude
    * (longs compared as longs, unlike a packed double score, which
    * silently corrupts past 2^20 ids); edges come off the shared
    * materialized pair table. */
  def dedupSurvivor(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val labels = connectedComponents(
      docs.select(col("doc_id").as("id")), pairsTable(s, dir))
    val surv = labels
      .join(docs.select(col("doc_id").as("id"), col("n_chars")), Seq("id"))
      .groupBy(col("label"))
      .agg(max(struct(col("n_chars"), (-col("id")).as("neg_id"))).as("m"))
      .select(col("label"), (-col("m.neg_id")).as("survivor_id"))
    labels.join(surv, Seq("label"))
      .select(col("id").as("doc_id"), col("label").as("cluster_id"),
        col("survivor_id"), (col("id") === col("survivor_id")).as("is_survivor"))
      .orderBy("doc_id")
  }

  /** q46: transitive dedup clusters of the documents table — edges are
    * the exact 3-gram Jaccard ≥ 0.8 pairs (q23's output), nodes are all
    * documents (pair-free docs stay singleton clusters of themselves).
    * Output: doc_id, cluster_id = min doc_id of the component,
    * cluster_size. */
  def dedupClusters(s: SparkSession, dir: String): DataFrame =
    dedupClustersOf(Tables.documents(s, dir), pairsTable(s, dir))

  def dedupClusters(docs: DataFrame): DataFrame =
    dedupClustersOf(docs,
      ApproxDedup.ngramJaccardPairs(docs).select("a_id", "b_id"))

  private def dedupClustersOf(docs: DataFrame, edges: DataFrame): DataFrame = {
    val labels = connectedComponents(docs.select(col("doc_id").as("id")), edges)
    val sizes = labels.groupBy(col("label"))
      .agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, Seq("label"))
      .select(col("id").as("doc_id"), col("label").as("cluster_id"),
        col("cluster_size"))
      .orderBy("doc_id")
  }

  /** q138: per-document triangle support over the near-dup pair graph —
    * the fourth consumer of the shared τ=0.8 pair table. Triangle count
    * separates genuine duplicate CLIQUES (a template stamped many times
    * — every pair matches, triangles abound) from transitive CHAINS
    * (A≈B≈C but A≉C — zero triangles), which q46's components cannot
    * distinguish; survivor selection in a chain-shaped "cluster" is the
    * classic over-deletion bug in corpus dedup.
    *
    * Algorithm: edges are already ordered (a_id < b_id by
    * construction), so each triangle a<b<c is enumerated exactly once
    * by the wedge join e1=(a,b), e2=(b,c) closed by e3=(a,c). Each
    * output role (a, b, c) credits its document via one explode-free
    * union. Scale notes: the wedge join shuffles edges on the shared
    * middle vertex and the closing join on (min,max) — both are plain
    * hash joins over |E|-sized inputs, no fact-table pass at all; the
    * skew risk is a high-degree vertex whose wedge count is deg², the
    * standard mitigation (degree-ordered edge direction) is documented
    * at the call site and unnecessary at τ=0.8 where degrees are
    * near-dup-cluster-bounded. */
  def triangleSupport(s: SparkSession, dir: String): DataFrame = {
    val edges = pairsTable(s, dir).select(col("a_id"), col("b_id"))
    triangleSupport(edges)
  }

  def triangleSupport(edges: DataFrame): DataFrame = {
    val e1 = edges.select(col("a_id").as("a"), col("b_id").as("b"))
    val e2 = edges.select(col("a_id").as("b2"), col("b_id").as("c"))
    val e3 = edges.select(col("a_id").as("a3"), col("b_id").as("c3"))
    val tri = e1.join(e2, col("b") === col("b2"))
      .join(e3, col("a") === col("a3") && col("c") === col("c3"))
      .select(col("a"), col("b"), col("c"))
    tri.select(col("a").as("doc_id"))
      .unionAll(tri.select(col("b").as("doc_id")))
      .unionAll(tri.select(col("c").as("doc_id")))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_triangles"))
      .orderBy("doc_id")
  }

  /** BFS depth bound for [[contaminationHops]] — deep enough to cross a
    * near-dup chain, bounded so the oracle unrolls. */
  val HopRounds = 3

  /** q158: contamination blast radius — shortest-hop distance from the
    * benchmark set (q44's `doc_id % BenchModulus = 0` convention)
    * through the τ=0.8 near-dup graph, ≤ [[HopRounds]] hops; the sixth
    * consumer of the shared pair table. Dropping only DIRECT near-dups
    * of benchmark docs (q44's reach) leaves their transitive
    * paraphrases in the training set — hop distance is the evidence a
    * decontamination sweep uses to pick its cut depth.
    *
    * Scale notes: textbook frontier BFS — the undirected edge frame is
    * [[undirectedOn]] src, checkpointed once, so each round's
    * neighbor join never re-shuffles the 2|E| side; a round shuffles
    * only the frontier (nodes at exact distance k−1, each expanded
    * exactly once) plus one min-group over discovered nodes. Rounds
    * are fixed; per-round work is O(|E|) regardless of corpus size. */
  def contaminationHops(s: SparkSession, dir: String): DataFrame =
    contaminationHopsGraph(Tables.documents(s, dir),
      pairsTable(s, dir).select("a_id", "b_id"))

  def contaminationHopsGraph(docs: DataFrame, edges: DataFrame): DataFrame = {
    val und = undirectedOn(edges, "src")
    val bench = docs
      .filter(col("doc_id").isNotNull && col("doc_id") % Curation.BenchModulus === 0)
      .select(col("doc_id").as("id"), lit(0L).as("hop"))
      .localCheckpoint()
    val dist = (1 to HopRounds).foldLeft(bench) { (reached, k) =>
      val frontier = reached.filter(col("hop") === (k - 1).toLong)
        .select(col("id").as("src"))
      val nxt = und.join(frontier, Seq("src"))
        .select(col("dst").as("id"), lit(k.toLong).as("hop"))
      reached.unionByName(nxt)
        .groupBy(col("id")).agg(min(col("hop")).as("hop"))
        .localCheckpoint()
    }
    dist.select(col("id").as("doc_id"), col("hop")).orderBy("doc_id")
  }

  /** Peel parameters for [[kcore]]: K = 2 (the smallest core that
    * separates cyclic density from trees/chains). The peel runs to
    * FIXPOINT — a fixed round count silently returns a SUPERSET of the
    * true core on any chain deeper than the count (exactly what
    * template drift produces at 100 TB), so the loop instead stops
    * when a round drops nothing, and [[KCoreMaxRounds]] is a runaway
    * cap that THROWS rather than truncates (a graph needing more than
    * 64 synchronous rounds means peel depth > 64, i.e. pathological
    * input worth failing loudly on, not mislabeling as "core").
    *
    * The DuckDB oracle cannot run a data-dependent loop, so it unrolls
    * [[KCoreOracleRounds]] = 12 materialized rounds: past the
    * fixpoint, extra peel rounds are no-ops, so oracle == fixpoint as
    * long as the gated data converges within 12 (the sf0.001–sf1 pair
    * graphs converge in ≤ 3; a gate mismatch here means convergence
    * got deeper than 12 — bump the constant, the gate fails loudly
    * instead of silently blessing a truncated peel). */
  val KCoreK = 2
  val KCoreMaxRounds = 64
  val KCoreOracleRounds = 12

  /** q195: k-core decomposition of the near-dup pair graph — the
    * seventh consumer of the shared τ=0.8 pair table, and the density
    * primitive the family still lacked: q46's components say WHO is
    * connected, q138's triangles say where cliques are, the k-core
    * says which region stays dense after every weakly-attached node is
    * peeled away (Seidman 1983; the standard dense-subgraph seed).
    * On a dedup graph the 2-core is exactly the template-stamped /
    * mass-duplicated region — chains and pendants (one-off near-dups)
    * peel off, so survivor budgeting can treat the core differently
    * from incidental pairs.
    *
    * Synchronous peel: each round recomputes degrees over the
    * SURVIVING subgraph and drops every node below K at once (the
    * parallel-friendly formulation; sequential peeling is equivalent
    * at the fixpoint). The [[iterateToFixpoint]] loop runs until a
    * round removes no edge — an edge count is invariant across a round
    * iff every node passed the degree filter (a dropped node takes its
    * ≥1 edges with it), so the cheap `count()` on the just-checkpointed
    * frame IS the convergence check. Output: surviving nodes with their
    * in-core degree.
    *
    * Scale notes: the undirected edge frame is checkpointed each round
    * (it only ever SHRINKS), degrees are one map-combined |E|-row
    * aggregate, the survivor filter is two semi-join-shaped equi-joins
    * on the edge keys; per-round work is O(|E|) regardless of corpus
    * size, and round COUNT is the graph's peel depth (≤ 3 on the gated
    * pair graphs; [[KCoreMaxRounds]] guards runaways by throwing). */
  def kcore(s: SparkSession, dir: String): DataFrame =
    kcoreGraph(pairsTable(s, dir).select("a_id", "b_id"))

  def kcoreGraph(edges: DataFrame, k: Int = KCoreK,
      maxRounds: Int = KCoreMaxRounds): DataFrame = {
    val und = undirectedOn(edges, "src")
    val undEdges = und.count()
    val (core, _) = iterateToFixpoint((und, undEdges), undEdges == 0L,
        maxRounds, "k-core peel") { case (cur, _) =>
      val alive = cur.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k.toLong)
        .select(col("src"))
      cur
        .join(alive, Seq("src"))
        .join(alive.select(col("src").as("dst")), Seq("dst"))
        .select(col("src"), col("dst"))
        .repartition(col("src"))
    } { case ((_, curEdges), next) =>
      val nextEdges = next.count()
      ((next, nextEdges), nextEdges == curEdges)
    }
    core.groupBy(col("src")).agg(count(lit(1)).as("core_degree"))
      .select(col("src").as("doc_id"), col("core_degree"))
      .orderBy("doc_id")
  }

  /** q195 oracle: the peel unrolled to [[KCoreOracleRounds]] — ka_i =
    * nodes of degree ≥ K in ke_{i−1}, ke_i = ke_{i−1} restricted to
    * ka_i on both endpoints. Rounds past the fixpoint are no-ops, so
    * this equals the converged peel whenever the data's peel depth is
    * ≤ the unroll (see [[KCoreOracleRounds]]). Every CTE is
    * MATERIALIZED: ke_{i−1} is referenced twice per round and DuckDB
    * inlines plain CTEs per reference — an unmaterialized 12-round
    * unroll would expand 2^12 scans. */
  def kcoreOracleSql(jaccardPairCtes: String): String = {
    val rounds = (1 to KCoreOracleRounds).map { i =>
      s"""ka$i AS MATERIALIZED (SELECT src AS id FROM ke${i - 1}
         |  GROUP BY src HAVING COUNT(*) >= $KCoreK),
         |ke$i AS MATERIALIZED (SELECT e.src, e.dst FROM ke${i - 1} e
         |  JOIN ka$i x ON e.src = x.id JOIN ka$i y ON e.dst = y.id)""".stripMargin
    }.mkString(",\n")
    s"""WITH $jaccardPairCtes,
       |prk AS (SELECT a_id, b_id FROM p
       |  WHERE CAST(common AS DOUBLE)/(na+nb-common) >= 0.8),
       |ke0 AS MATERIALIZED (SELECT a_id AS src, b_id AS dst FROM prk
       |  UNION ALL SELECT b_id, a_id FROM prk),
       |$rounds
       |SELECT src AS doc_id, CAST(COUNT(*) AS BIGINT) AS core_degree
       |FROM ke$KCoreOracleRounds GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** q158 oracle: the BFS unrolled — h_k = neighbors of h_{k−1}, MIN
    * hop over the union (exact-distance-d nodes appear in h_d, and
    * every h_k member is within k, so MIN is the true distance). */
  def contaminationHopsOracleSql(jaccardPairCtes: String): String =
    s"""WITH $jaccardPairCtes,
      |pr AS (SELECT a_id, b_id FROM p
      |  WHERE CAST(common AS DOUBLE)/(na+nb-common) >= 0.8),
      |ed AS (SELECT a_id AS src, b_id AS dst FROM pr
      |  UNION ALL SELECT b_id, a_id FROM pr),
      |h0 AS (SELECT doc_id AS id FROM documents
      |  WHERE doc_id IS NOT NULL AND doc_id % ${Curation.BenchModulus} = 0),
      |h1 AS (SELECT DISTINCT ed.dst AS id FROM ed JOIN h0 ON ed.src = h0.id),
      |h2 AS (SELECT DISTINCT ed.dst AS id FROM ed JOIN h1 ON ed.src = h1.id),
      |h3 AS (SELECT DISTINCT ed.dst AS id FROM ed JOIN h2 ON ed.src = h2.id),
      |u AS (SELECT id, 0 AS hop FROM h0
      |  UNION ALL SELECT id, 1 FROM h1
      |  UNION ALL SELECT id, 2 FROM h2
      |  UNION ALL SELECT id, 3 FROM h3)
      |SELECT id AS doc_id, CAST(MIN(hop) AS BIGINT) AS hop
      |FROM u GROUP BY 1 ORDER BY 1""".stripMargin

  /** q208: common-neighbor link prediction (Newman 2001; Liben-Nowell
    * & Kleinberg 2003's strongest cheap predictor) over the part
    * co-purchase graph: for every NON-adjacent part pair sharing ≥1
    * co-purchase neighbor, the number of shared neighbors plus both
    * endpoint degrees — the classic "customers who bought X and Y
    * also…" recommendation primitive, and the generic graph operator
    * is [[commonNeighborsGraph]] over ANY (a_id, b_id) edge set.
    *
    * The GATE deliberately runs on the co-purchase graph rather than
    * the shared τ=0.8 dedup pair table: near-dup clusters on the
    * fixtures (and on real template-stamped corpora) are CLIQUES —
    * every candidate pair is already adjacent, so the prediction set
    * is empty at every threshold (measured: 0 rows at sf0.001–sf1,
    * τ sweep 0.8→0.2), and a permanently-empty gate checks nothing.
    * Co-purchase baskets produce genuine open wedges at every SF.
    *
    * Deliberately integer-exact: the predictor is the common-neighbor
    * COUNT with deg_a/deg_b alongside (enough to derive Jaccard-,
    * Adamic-Adar- or cosine-style normalizations downstream) — no
    * float score leaves the plan, per the repo's exactness convention
    * (a Σ1/log(deg) would be summation-order-dependent).
    *
    * Scale notes: edge construction replays q189's staged a-priori
    * shape — distinct (order, part) is checkpointed once, the pair
    * self-join is co-partitioned on the basket key (baskets are
    * order-sized, so pair volume is Σ basket² ≈ |lineitem|·avg_basket,
    * never corpus²), and the ≥[[Itemsets.scaledMinSup]] filter bounds
    * |E| with the DENSITY-SCALED ladder shared with q189: incidental
    * single co-occurrences are never relationships (base 2), and on a
    * fixed catalog where orders keep arriving the threshold doubles
    * with basket-memberships per item, so |E| stays bounded instead of
    * densifying toward items². On TPC-H-shaped growth (catalog ∝
    * facts, density ~30 rows/item) the ladder stays at 2 — gate values
    * are SF-stable.
    * Wedge enumeration is then one self-join of the undirected edge
    * frame on the shared MIDDLE vertex, an |wedge|-row count
    * aggregate, one anti-join against the edge set (drops pairs
    * already adjacent), and two degree joins. Wedge volume is
    * Σ deg(b)², so HUB middles are CAPPED (round 9): a middle vertex
    * with degree > [[HubWedgeDegCap]] enumerates wedges only over its
    * cap lowest-id neighbors (deterministic, oracle-replayable — a
    * real co-purchase catalog has hub items whose deg² would dominate
    * the join), degrees stay exact/uncapped, and the number of capped
    * hubs rides every output row as `n_hubs_capped` (the no-silent-caps
    * rule: n_common is a lower bound whenever that column is > 0).
    * The undirected frame is checkpointed once and reused by all
    * three arms. */
  def commonNeighbors(s: SparkSession, dir: String): DataFrame = {
    // Two build-once artifacts (round 12, verdict item 3). The distinct
    // (basket, item) frame is shared with q189 (Itemsets.basketItemsPath
    // — both paid the same fact scan + distinct at sf10); the
    // support-filtered co-purchase EDGE set on top of it is this
    // query's own derived table, so steady-state runs jump straight to
    // the graph stage. The support ladder's constants ride in the
    // artifact NAME (the round-11 fingerprint lesson: dirFingerprint
    // alone cannot see a derivation-constant change), and the
    // density-derived minSup itself is a pure function of the
    // fingerprinted data + those constants. Filtering nulls after the
    // shared artifact's distinct is set-identical to the old
    // filter-before-distinct.
    val path = graft.ArtifactStore.ensureCurrent(s,
      s"basket_edges_v1b${Itemsets.BaseSup}d${Itemsets.SupDensity}" +
        s"m${Itemsets.MaxSup}",
      Tables.dirFingerprint(s, dir)) { staging =>
      val li = readTable(s, Itemsets.basketItemsPath(s, dir))
        .filter(col("basket").isNotNull && col("item").isNotNull)
      val st = li.agg(count(lit(1)).as("nr"),
        countDistinct(col("item")).as("ni")).first()
      val minSup = Itemsets.scaledMinSup(st.getLong(0), st.getLong(1))
      writeTable(li.select(col("basket"), col("item").as("a_id"))
        .join(li.select(col("basket"), col("item").as("b_id")), Seq("basket"))
        .where(col("a_id") < col("b_id"))
        .groupBy(col("a_id"), col("b_id"))
        .agg(count(lit(1)).as("support"))
        .where(col("support") >= minSup.toLong)
        .select(col("a_id"), col("b_id")), staging)
    }
    commonNeighborsGraph(readTable(s, path))
  }

  /** Wedge-enumeration degree cap for hub middle vertices — 256 keeps
    * per-hub wedge volume ≤ ~32k pairs however large the hub; the
    * local-fixture degrees sit far below it, so the gate values are
    * cap-invariant there (the spec plants a hub that is not). */
  val HubWedgeDegCap = 256

  def commonNeighborsGraph(edges: DataFrame,
      cap: Int = HubWedgeDegCap): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // read 4-5× below (two wedge arms, degrees, probe)
    val und = undirectedOn(edges, "src")
    // item-domain-sized; read 3× (hub probe + two degree joins) —
    // materialized so the und aggregate runs once
    val deg = und.groupBy(col("src")).agg(count(lit(1)).as("dg"))
      .localCheckpoint()
    // round-10: PROBE before paying for the cap. Round 9's unconditional
    // row_number sorted the whole edge frame on a graph whose hubs never
    // exceed the cap (q208 sf10 33.5 → 84.8 s for machinery the data
    // never triggers). One 1-row max-degree aggregate on the
    // checkpointed degree frame decides; output is IDENTICAL either way
    // (rn ≤ cap is a no-op when max(deg) ≤ cap), so the oracle keeps
    // the single always-capped formulation.
    val maxDeg = deg.agg(coalesce(max(col("dg")), lit(0L))).first().getLong(0)
    val undCapped = if (maxDeg <= cap) und else {
      // hub cap: wedges enumerate only the cap lowest-id neighbors per
      // middle — und is already partitioned by src, so the rank is an
      // in-partition sort, no extra exchange
      val wByMid = Window.partitionBy(col("src")).orderBy(col("dst"))
      und.withColumn("__rn", row_number().over(wByMid))
        .filter(col("__rn") <= cap).drop("__rn")
    }
    // every unordered pair {a,b} with a common (kept) neighbor m appears
    // as exactly one wedge (m→a, m→b) with a<b per middle vertex
    val wedgeA = undCapped.select(col("src").as("mid"), col("dst").as("a_id"))
    val wedgeB = undCapped.select(col("src").as("mid"), col("dst").as("b_id"))
    val cand = wedgeA.join(wedgeB, Seq("mid"))
      .filter(col("a_id") < col("b_id"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).as("n_common"))
    // candidates are a_id<b_id; the edge side is normalized the same way
    // (a projection, no exchange), so an edge given as (b, a) still
    // counts as adjacent in the one equi-anti-join on the pair key
    val nonAdjacent = cand.join(
      edges.select(least(col("a_id"), col("b_id")).as("a_id"),
        greatest(col("a_id"), col("b_id")).as("b_id")),
      Seq("a_id", "b_id"), "left_anti")
    val withDegrees = nonAdjacent
      .join(deg.select(col("src").as("a_id"), col("dg").as("deg_a")), Seq("a_id"))
      .join(deg.select(col("src").as("b_id"), col("dg").as("deg_b")), Seq("b_id"))
    // the audited truncation count: how many middles were capped (1-row
    // frame broadcast onto every output row; a literal 0 when the probe
    // already proved no hub exists)
    val withHubCount = if (maxDeg <= cap)
      withDegrees.withColumn("n_hubs_capped", lit(0L))
    else withDegrees.crossJoin(broadcast(
      deg.agg(coalesce(sum(
        when(col("dg") > cap, lit(1L)).otherwise(lit(0L))), lit(0L))
        .as("n_hubs_capped"))))
    withHubCount
      .select(col("a_id"), col("b_id"), col("n_common"),
        col("deg_a"), col("deg_b"), col("n_hubs_capped"))
      .orderBy("a_id", "b_id")
  }

  /** q208 oracle: the same co-purchase edges and wedge enumeration in
    * SQL — candidates from the undirected self-join on the middle
    * vertex (hub-capped via the same lowest-id ROW_NUMBER rank),
    * adjacency removed by anti-join on the normalized (a<b) pair key,
    * exact degrees joined, the hub truncation count cross-joined. */
  def commonNeighborsOracleSql: String = {
    val msSql = Itemsets.scaledMinSupSql("(SELECT nr FROM st)", "(SELECT ni FROM st)")
    s"""WITH li AS MATERIALIZED (
      |  SELECT DISTINCT l_orderkey AS basket, l_partkey AS item
      |  FROM lineitem WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
      |st AS MATERIALIZED (SELECT COUNT(*) AS nr, COUNT(DISTINCT item) AS ni
      |  FROM li),
      |ms AS MATERIALIZED (SELECT $msSql AS v),
      |pr AS (SELECT a.item AS a_id, b.item AS b_id
      |  FROM li a JOIN li b ON a.basket = b.basket AND a.item < b.item
      |  GROUP BY 1, 2 HAVING COUNT(*) >= (SELECT v FROM ms)),
      |und AS (SELECT a_id AS src, b_id AS dst FROM pr
      |  UNION ALL SELECT b_id, a_id FROM pr),
      |deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS dg
      |  FROM und GROUP BY 1),
      |undc AS (SELECT src, dst FROM (
      |  SELECT src, dst, ROW_NUMBER() OVER (PARTITION BY src ORDER BY dst) AS rn
      |  FROM und) WHERE rn <= $HubWedgeDegCap),
      |hub AS (SELECT CAST(COALESCE(SUM(CASE WHEN dg > $HubWedgeDegCap THEN 1 ELSE 0 END), 0) AS BIGINT)
      |    AS n_hubs_capped FROM deg),
      |cand AS (SELECT u1.dst AS a_id, u2.dst AS b_id,
      |    CAST(COUNT(*) AS BIGINT) AS n_common
      |  FROM undc u1 JOIN undc u2 ON u1.src = u2.src AND u1.dst < u2.dst
      |  GROUP BY 1, 2),
      |nonadj AS (SELECT c.a_id, c.b_id, c.n_common FROM cand c
      |  LEFT JOIN pr e ON e.a_id = c.a_id AND e.b_id = c.b_id
      |  WHERE e.a_id IS NULL)
      |SELECT n.a_id, n.b_id, n.n_common, da.dg AS deg_a, db.dg AS deg_b,
      |  hub.n_hubs_capped
      |FROM nonadj n
      |JOIN deg da ON da.src = n.a_id
      |JOIN deg db ON db.src = n.b_id
      |CROSS JOIN hub
      |ORDER BY 1, 2""".stripMargin
  }
}
