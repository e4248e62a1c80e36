package graft

import graft.operators.Components

/** Connected-components operators: correctness on awkward graph shapes and
  * the round-count claim — alt-star (large-star/small-star) converges in
  * ~log2(d) rounds where min-label propagation needs d (the component
  * diameter), which is the difference between 4 shuffles and 20+ on a
  * chain-shaped component at scale.
  */
class ComponentsSpec extends SparkTestBase {

  import spark.implicits._

  test("chain graph: alt-star needs O(log d) rounds, min-label O(d)") {
    val n = 24 // path 1-2-...-24: diameter 23
    val nodes = (1 to n).map(_.toLong).toDF("id")
    val edges = (1 until n).map(i => (i.toLong, (i + 1).toLong)).toDF("s", "t")

    val (mlOut, mlRounds) = Components.minLabelCounted(nodes, "id", edges, "s", "t")
    val (asOut, asRounds) = Components.altStar(nodes, "id", edges, "s", "t")

    val expect = (1 to n).map(i => i.toLong -> 1L).toMap
    assert(mlOut.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap == expect)
    assert(asOut.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap == expect)

    assert(mlRounds >= 10, s"min-label should pay the diameter, got $mlRounds rounds")
    assert(asRounds <= 6, s"alt-star should halve distance per round, got $asRounds rounds")
    assert(asRounds * 2 < mlRounds, s"alt-star $asRounds vs min-label $mlRounds")
  }

  test("two components + singletons + duplicate/reversed edges") {
    val nodes = Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L).toDF("id")
    // {1,2,3} via redundant edges, {5,6}, singletons 4 and 7
    val edges = Seq((2L, 1L), (1L, 2L), (3L, 2L), (2L, 3L), (6L, 5L), (5L, 6L))
      .toDF("s", "t")
    val got = Components.altStar(nodes, "id", edges, "s", "t")._1
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L,
      5L -> 5L, 6L -> 5L, 7L -> 7L))
  }

  test("empty edge list: every node is its own cluster") {
    val nodes = Seq(10L, 20L).toDF("id")
    val edges = Seq.empty[(Long, Long)].toDF("s", "t")
    val got = Components.altStar(nodes, "id", edges, "s", "t")._1
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(10L -> 10L, 20L -> 20L))
  }

  test("auto: local union-find path matches alt-star on random graphs") {
    // The size gate dispatches small graphs to the single-task union-find;
    // both paths must compute the identical min-id fixpoint. Deterministic
    // pseudo-random graphs over several densities, alt-star as the oracle.
    val rng = new scala.util.Random(4242)
    for (trial <- 1 to 5) {
      val n = 30 + trial * 10
      val m = n * (trial % 3 + 1) / 2
      val nodes = (1 to n).map(_.toLong).toDF("id")
      val edges = (1 to m).map(_ =>
        (rng.nextInt(n).toLong + 1, rng.nextInt(n).toLong + 1)).toDF("s", "t")
      val viaStar = Components.altStar(nodes, "id", edges, "s", "t")._1
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val (viaAuto, rounds) = Components.auto(nodes, "id", edges, "s", "t")
      assert(rounds == 1, s"small graph must take the one-job local path, got $rounds")
      val got = viaAuto.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == viaStar, s"trial $trial: local union-find diverged from alt-star")
    }
  }

  test("auto: above the edge gate it falls through to alt-star") {
    val nodes = Seq(1L, 2L, 3L).toDF("id")
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("s", "t")
    val (out, rounds) = Components.auto(nodes, "id", edges, "s", "t", localMaxEdges = 1L)
    assert(rounds > 1, "2 edges > gate of 1 must run the iterative path")
    val got = out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("auto: both paths carry the nodes' other columns, a NULL id keeps a NULL cluster") {
    val nodes = Seq((Some(1L), "a"), (Some(2L), "b"), (Some(3L), "c"), (None, "n"))
      .toDF("doc", "tag")
    val edges = Seq((1L, 2L)).toDF("s", "t")
    for (gate <- Seq(4000000L, 0L)) {
      val (out, _) = Components.auto(nodes, "doc", edges, "s", "t", localMaxEdges = gate)
      assert(out.columns.toSeq == Seq("id", "cluster_id", "tag"))
      val got = out.collect().map(r => r.getString(2) -> (Option(r.get(0)), Option(r.get(1))))
        .toMap
      assert(got == Map("a" -> (Some(1L), Some(1L)), "b" -> (Some(2L), Some(1L)),
        "c" -> (Some(3L), Some(3L)), "n" -> (None, None)), s"gate $gate: $got")
    }
  }
}
