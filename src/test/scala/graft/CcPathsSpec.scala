package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup

/** `Dedup.dupClustersFromPairs`' two paths against each other: the
  * driver union-find every fixture here takes (each is far below
  * `Dedup.DriverEdges`), and the distributed HashMin loop, called
  * directly. On each fixture both must give the same rows in the same
  * order and the same schema, nullability included.
  */
class CcPathsSpec extends AnyFunSuite {
  import SparkTestSession.spark
  import spark.implicits._

  private def loop(pairs: DataFrame) =
    Dedup.hashMinClusters(pairs.select("id_a", "id_b"), 50, None)

  private def leaves(df: DataFrame) = df.queryExecution.logical.collectLeaves()
  private def onDriver(df: DataFrame) =
    leaves(df).nonEmpty && leaves(df).forall(_.isInstanceOf[LocalRelation])
  private def looped(df: DataFrame) =
    leaves(df).nonEmpty && leaves(df).forall(_.isInstanceOf[LogicalRDD])

  /** `fast` (a `dupClustersFromPairs` result) against the loop on
    * `pairs`: equal rows and schema, and `fast` took the driver path
    * iff `driverPath`. Returns the rows as (doc_id, cluster_id) pairs. */
  private def sameAsLoop(pairs: DataFrame, fast: DataFrame,
                         driverPath: Boolean): Seq[(Any, Any)] = {
    val slow = loop(pairs)
    val (fastRows, slowRows) = (fast.collect().toSeq, slow.collect().toSeq)
    assert(fast.schema == slow.schema,
      s"driver ${fast.schema.treeString} vs loop ${slow.schema.treeString}")
    assert(fastRows == slowRows)
    assert(looped(slow), slow.queryExecution.logical.treeString)
    assert(if (driverPath) onDriver(fast) else looped(fast),
      fast.queryExecution.logical.treeString)
    fastRows.map(r => (r.get(0), r.get(1)))
  }

  private def bothPaths(pairs: DataFrame, driverPath: Boolean = true): Seq[(Any, Any)] =
    sameAsLoop(pairs, Dedup.dupClustersFromPairs(pairs), driverPath)

  private def longPairs(ps: Seq[(Long, Long)]) = ps.toDF("id_a", "id_b")

  test("a 64-node path labels every node 1, in either id orientation") {
    val path = (1L until 64L).map(i => (i, i + 1))
    for (ps <- Seq(path, path.map(_.swap), path.reverse)) {
      val got = bothPaths(longPairs(ps))
      assert(got == (1L to 64L).map(i => (i, 1L)))
    }
    // a path whose ids zigzag, so labels cross many hops both ways
    val zig = (0 until 64).map(i => if (i % 2 == 0) 100L + i else 200L - i)
    val got = bothPaths(longPairs(zig.zip(zig.tail)))
    assert(got.map(_._2).distinct == Seq(zig.min))
  }

  test("a star takes its smallest leaf's id, not the hub's") {
    val star = ((10L to 20L) ++ (60L to 70L)).map(leaf => (50L, leaf))
    val got = bothPaths(longPairs(star))
    assert(got.map(_._2).toSet == Set(10L) && got.size == 23)
  }

  test("two components plus an isolated pair") {
    val got = bothPaths(longPairs(Seq(
      (3L, 1L), (2L, 3L), (11L, 12L), (10L, 12L), (12L, 10L), (101L, 100L))))
    assert(got.toMap == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L,
      12L -> 10L, 100L -> 100L, 101L -> 100L))
  }

  test("duplicate, reversed and self edges") {
    val got = bothPaths(longPairs(Seq(
      (1L, 2L), (1L, 2L), (2L, 1L), (3L, 3L), (4L, 2L), (5L, 5L), (5L, 5L))))
    assert(got.toMap == Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 1L, 5L -> 5L))
  }

  test("INT ids stay INT") {
    val got = bothPaths(Seq((4, 3), (5, 4), (8, 7)).toDF("id_a", "id_b"))
    assert(got == Seq((3, 3), (4, 3), (5, 3), (7, 7), (8, 7)))
  }

  test("an empty pair list gives an empty frame with the same schema") {
    assert(bothPaths(longPairs(Nil)).isEmpty)
  }

  test("nullable ids: none null keeps the driver path; a null id takes the loop") {
    val some = Seq((Option(2L), Option(1L)), (Option(3L), Option(2L)))
    assert(bothPaths(some.toDF("id_a", "id_b")) == Seq((1L, 1L), (2L, 1L), (3L, 1L)))
    val withNull = some ++ Seq((None, Option(3L)), (Option(9L), None), (Option(7L), Option(8L)))
    bothPaths(withNull.toDF("id_a", "id_b"), driverPath = false)
  }

  test("a graph of more than the driver bound's edges takes the loop") {
    val pairs = longPairs(Seq((1L, 2L), (3L, 2L), (7L, 8L), (9L, 8L)))
    val at = sameAsLoop(pairs, Dedup.clustersFromPairs(pairs, 50, None, driverEdges = 4),
      driverPath = true)
    val over = sameAsLoop(pairs, Dedup.clustersFromPairs(pairs, 50, None, driverEdges = 3),
      driverPath = false)
    assert(at == over && at.toMap == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      7L -> 7L, 8L -> 7L, 9L -> 7L))
  }

  test("a pair frame the caller cached stays cached, on either path") {
    // the call's own (id_a, id_b) projection is this very plan, so the
    // call finds it cached and must not unpersist it when done
    val raw = longPairs(Seq((1L, 2L), (2L, 3L)))
    val cached = raw.select("id_a", "id_b").persist(StorageLevel.MEMORY_ONLY)
    try {
      for (bound <- Seq(Dedup.DriverEdges, 1)) {
        Dedup.clustersFromPairs(raw, 50, None, bound).collect()
        assert(cached.storageLevel == StorageLevel.MEMORY_ONLY, s"bound $bound")
      }
    } finally cached.unpersist(blocking = true)
  }
}
