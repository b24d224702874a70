package graft

import graft.operators.Cluster

/** Common-neighbor link prediction (q208): wedge counting, adjacency
  * exclusion, global degrees, multi-neighbor accumulation, and the
  * round-9 hub-degree wedge cap. */
class LinkPredictionSpec extends SparkTestBase {
  import spark.implicits._

  private def edges(rows: (Long, Long)*) =
    rows.toDF("a_id", "b_id")

  private def rows(out: Array[org.apache.spark.sql.Row]) =
    out.map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3), r.getLong(4), r.getLong(5))).toSeq

  test("open wedge predicts its missing link; a closed triangle predicts nothing") {
    val open = Cluster.commonNeighborsGraph(edges((1L, 2L), (2L, 3L))).collect()
    assert(rows(open) == Seq((1L, 3L, 1L, 1L, 1L, 0L)))
    val closed = Cluster.commonNeighborsGraph(
      edges((1L, 2L), (2L, 3L), (1L, 3L))).collect()
    assert(closed.isEmpty, "adjacent pairs must be anti-joined away")
    // the same triangle with one edge given as (b, a): adjacency holds
    // in either orientation
    val reversed = Cluster.commonNeighborsGraph(
      edges((1L, 2L), (2L, 3L), (3L, 1L))).collect()
    assert(reversed.isEmpty, s"reversed edge not anti-joined: ${rows(reversed)}")
  }

  test("counts accumulate over multiple shared neighbors") {
    // 1 and 2 both neighbor 3 and 4: candidates (1,2) and (3,4), two
    // common neighbors each, every degree 2
    val out = Cluster.commonNeighborsGraph(
      edges((1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L))).collect()
    assert(rows(out) == Seq((1L, 2L, 2L, 2L, 2L, 0L), (3L, 4L, 2L, 2L, 2L, 0L)))
  }

  test("hub leaves pair up through the center with the hub's degree visible") {
    val out = Cluster.commonNeighborsGraph(
      edges((0L, 1L), (0L, 2L), (0L, 3L))).collect()
    assert(rows(out) == Seq(
      (1L, 2L, 1L, 1L, 1L, 0L), (1L, 3L, 1L, 1L, 1L, 0L), (2L, 3L, 1L, 1L, 1L, 0L)))
  }

  test("hub middles above the cap enumerate only their cap lowest-id " +
      "neighbors and the truncation is counted, degrees stay exact") {
    // star: hub 0 with leaves 1..10 (degree 10 > cap 4). Uncapped would
    // emit C(10,2)=45 pairs; capped keeps leaves 1..4 -> C(4,2)=6 pairs,
    // every row carrying n_hubs_capped=1 and the hub's TRUE degree via
    // any pair that includes it (none here — leaves only).
    val star = (1L to 10L).map(l => (0L, l))
    val out = Cluster.commonNeighborsGraph(edges(star: _*), cap = 4).collect()
    val got = rows(out)
    assert(got.size == 6, s"expected C(4,2)=6 capped pairs, got ${got.size}")
    assert(got.forall { case (a, b, nc, da, db, hc) =>
      a >= 1L && b <= 4L && nc == 1L && da == 1L && db == 1L && hc == 1L
    }, s"unexpected capped output: $got")
    // below the cap the same star is exhaustive and uncounted
    val uncapped = rows(Cluster.commonNeighborsGraph(edges(star: _*), cap = 16)
      .collect())
    assert(uncapped.size == 45 && uncapped.forall(_._6 == 0L))
  }

  test("empty edge set predicts nothing") {
    assert(Cluster.commonNeighborsGraph(edges()).collect().isEmpty)
  }
}
