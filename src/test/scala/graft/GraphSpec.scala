package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Graph operators: the harmonic-centrality hub-cap tier. */
class GraphSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def star(leaves: Int) =
    (1 to leaves).map(i => (0L, i.toLong)).toDF("u", "v")

  test("harmonicCentrality3 exact tier: textbook values on a star graph") {
    // hub 0 - leaves 1..20: hub sees 20 at d=1; a leaf sees the hub at
    // d=1 and the other 19 leaves at d=2
    val out = graft.operators.Graph
      .harmonicCentrality3(star(20), topN = 25)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out(0L) == 20.0)
    for (i <- 1L to 20L) assert(out(i) == 1.0 + 19 / 2.0)
  }

  test("harmonicCentrality3 capped tier: expansion bounded by the hub cap, " +
       "deterministic (id-smallest) neighbor selection, n1 stays the true degree") {
    // force the capped tier (exactWedgeCap = 0) with hubCap = 4: the
    // hub expands only through leaves 1..4, so a leaf's ring 2 is
    // {1..4} minus itself — 3 for leaves 1..4, 4 for the rest; the
    // hub's own n1 (true degree) stays 20
    val out = graft.operators.Graph
      .harmonicCentrality3(star(20), hubCap = 4, exactWedgeCap = 0L, topN = 25)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out(0L) == 20.0, "ring-1 counts must stay true degrees under the cap")
    for (i <- 1L to 4L) assert(out(i) == 1.0 + 3 / 2.0, s"leaf $i")
    for (i <- 5L to 20L) assert(out(i) == 1.0 + 4 / 2.0, s"leaf $i")
  }

  test("harmonicCentrality3: capped tier is a lower bound of the exact tier") {
    // chain 0-1-2-3-4 plus a hub at 0: capped traversal can only drop
    // paths, never add them
    val edges = (star(10).collect().map(r => (r.getLong(0), r.getLong(1))) ++
      Seq((1L, 21L), (21L, 22L), (22L, 23L))).toSeq.toDF("u", "v")
    val exact = graft.operators.Graph.harmonicCentrality3(edges, topN = 30)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val capped = graft.operators.Graph
      .harmonicCentrality3(edges, hubCap = 3, exactWedgeCap = 0L, topN = 30)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    for ((k, v) <- capped) assert(v <= exact(k) + 1e-9, s"node $k")
  }
}
