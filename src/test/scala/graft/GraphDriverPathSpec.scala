package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{DriverPath, Graphs, Hits, PageRank}

/** The r12 driver fast paths (PageRank / PPR / HITS / LPA / walks) must be
  * BIT-IDENTICAL to the distributed loops they shortcut — same rows, same
  * values, every iteration count. `driverEdgeLimit = 0` forces the
  * distributed path (the KCoreSpec pattern); the default takes the driver
  * path on these test graphs.
  */
class GraphDriverPathSpec extends AnyFunSuite {
  lazy val spark = TestSpark.session
  import spark.implicits._

  // directed test graph: a hub, a cycle, a dangling sink, parallel arcs
  // (deduped), and a disconnected pair
  private val edges = Seq(
    (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (3L, 1L), (4L, 5L),
    (5L, 4L), (2L, 3L), (6L, 7L), (5L, 6L), (7L, 5L), (3L, 5L))

  private def df = edges.toDF("src", "dst")

  test("scaledRanks: driver and distributed ranks agree exactly") {
    for (iters <- Seq(1, 3, 7)) {
      val drv = PageRank.scaledRanks(df, iters)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      val dist = PageRank.scaledRanks(df, iters, driverEdgeLimit = 0L)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(drv == dist, s"ranks disagree at iters=$iters")
    }
  }

  test("scaledRanksPersonalized: both paths agree; off-graph seeds inert") {
    val seeds = Seq(1L, 4L, 99L).toDF("id") // 99 absent from the graph
    for (iters <- Seq(1, 4)) {
      val drv = PageRank.scaledRanksPersonalized(df, seeds, iters)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      val dist = PageRank
        .scaledRanksPersonalized(df, seeds, iters, driverEdgeLimit = 0L)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(drv == dist, s"ppr disagrees at iters=$iters")
      assert(!drv.contains(99L))
    }
  }

  test("scaledHits: both paths agree on every (id, kind, score)") {
    for (iters <- Seq(1, 2, 5)) {
      val drv = Hits.scaledHits(df, iters)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      val dist = Hits.scaledHits(df, iters, driverEdgeLimit = 0L)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      assert(drv == dist, s"hits disagrees at iters=$iters")
    }
  }

  test("labelPropagate: both paths agree, including unreached nulls and clamps") {
    // seed two communities plus a duplicate-seeded id (min label wins)
    val seeds = Seq((1L, 10L), (6L, 20L), (6L, 5L)).toDF("id", "label")
    for (iters <- Seq(1, 2, 4)) {
      def lbl(limit: Long) =
        Graphs.labelPropagate(df, seeds, iters, driverEdgeLimit = limit)
          .collect()
          .map(r => r.getLong(0) ->
            (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
      assert(lbl(1000000L) == lbl(0L), s"lpa disagrees at iters=$iters")
    }
    // clamp visible: node 6 keeps min seed label 5 on the driver path too
    val drv = Graphs.labelPropagate(df, seeds, 3)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(drv(6L) == Some(5L))
  }

  test("scaledStationary: both paths agree on every (state, pi)") {
    val trans = Seq(
      ("a", "b", 3L, 4L), ("a", "c", 1L, 4L), ("b", "a", 2L, 2L),
      ("c", "c", 5L, 5L), ("d", "a", 1L, 1L))
      .toDF("from_state", "to_state", "n", "out_total")
    for (iters <- Seq(1, 3, 6)) {
      val drv = graft.operators.Markov.scaledStationary(trans, iters)
        .collect().map(r => (r.getString(0), r.getLong(1))).toMap
      val dist = graft.operators.Markov
        .scaledStationary(trans, iters, driverEdgeLimit = 0L)
        .collect().map(r => (r.getString(0), r.getLong(1))).toMap
      assert(drv == dist, s"stationary disagrees at iters=$iters")
    }
  }

  test("deterministicWalks: both paths emit the identical walk corpus") {
    for ((len, wpn) <- Seq((1, 1), (4, 2))) {
      def walks(limit: Long) =
        Graphs.deterministicWalks(df, len, wpn, driverEdgeLimit = limit)
          .collect()
          .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3)))
          .toSet
      assert(walks(1000000L) == walks(0L),
        s"walks disagree at len=$len walksPerNode=$wpn")
    }
  }

  test("SPARK_GRAFT_DRIVER_EDGE_LIMIT: whole numbers parse, anything else names the variable") {
    assert(DriverPath.parseLimit(None).isEmpty)
    assert(DriverPath.parseLimit(Some(" 0 ")).contains(0L))
    assert(DriverPath.parseLimit(Some("250000")).contains(250000L))
    for (bad <- Seq("", "1e6", "ten", "12abc")) {
      val msg = intercept[IllegalArgumentException](
        DriverPath.parseLimit(Some(bad))).getMessage
      assert(msg.contains("SPARK_GRAFT_DRIVER_EDGE_LIMIT") && msg.contains(s"'$bad'"), msg)
    }
  }
}
