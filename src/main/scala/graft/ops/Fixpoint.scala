package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit}

/** The loop rule of the operators whose round count depends on the data:
  *
  *  - each round's frame is `localCheckpoint(false)`, never `cache`: a
  *    cache leaves the logical plan growing every round (~3x for a frame
  *    read by three branches; at ~10 rounds the plan alone OOMs the
  *    driver), while the checkpoint keeps plan depth O(1), and its blocks
  *    carry no named cache entry — the ContextCleaner reclaims them once
  *    a frame is unreferenced;
  *  - the round's one `count()` materializes that lazy checkpoint: a
  *    count reads every partition, so a round is exactly one job (the
  *    eager form ran checkpoint + count = two), and the next round finds
  *    the blocks already built;
  *  - the round bound fails LOUD, so a result that has not settled never
  *    masquerades as the answer (and disagrees with the oracle).
  *
  * Fixed-count loops (PageRank, HITS, label propagation, HyperBall,
  * random walks, framing) run no action per round and keep their own
  * checkpoint schedules; they do not come here. */
object Fixpoint {

  /** Iterate `step` from `init` until `settled` accepts the round's
    * `count`. `step` receives the previous round's checkpointed frame
    * (`init` for the first round), and `count` must read every partition
    * of the frame it is given. Returns the frame of the settling round;
    * throws `IllegalStateException` naming `what` when `maxRounds` pass
    * without settling. */
  def converge(init: DataFrame, maxRounds: Int, what: String)(step: DataFrame => DataFrame)(
      count: DataFrame => Long, settled: Long => Boolean): DataFrame = {
    require(maxRounds >= 1, s"$what: maxRounds must be >= 1")
    var frame = init
    var last = 0L
    for (_ <- 1 to maxRounds) {
      frame = step(frame).localCheckpoint(false)
      last = count(frame)
      if (settled(last)) return frame
    }
    throw new IllegalStateException(
      s"$what did not converge in $maxRounds rounds (last round's count: $last)")
  }

  /** Level-synchronous BFS: `seed` is level `from`; level d + 1 is
    * `expand(level d, d + 1)` (distinct rows over `key`) minus every key
    * already reached, so each key keeps its MINIMUM depth and a cycle
    * adds nothing. Each level is tagged with `depthCol`, lazily
    * checkpointed and tested for emptiness with `count()` — not
    * `isEmpty`, which stops at the first row and leaves partitions
    * unmaterialized. Stops at an empty level or at depth `maxDepth`.
    *
    * The levels are checkpointed leaves and the result is their union,
    * never itself re-checkpointed: Spark 4's LogicalRDD constraint
    * rewrite chokes on a checkpoint of a union of checkpoints, and the
    * union of ≤ maxDepth materialized leaves is already O(1)-deep. */
  def levels(seed: DataFrame, from: Int, maxDepth: Int, key: Seq[String], depthCol: String)(
      expand: (DataFrame, Int) => DataFrame): DataFrame = {
    var levels = List(seed.withColumn(depthCol, lit(from)).localCheckpoint(false))
    var d = from
    var nonEmpty = levels.head.count() > 0
    while (d < maxDepth && nonEmpty) {
      d += 1
      val seen = levels.map(_.select(key.map(col): _*)).reduce(_ unionByName _)
      val fresh = expand(levels.head, d)
        .join(seen, key, "left_anti")
        .withColumn(depthCol, lit(d))
        .localCheckpoint(false)
      levels ::= fresh
      nonEmpty = fresh.count() > 0
    }
    levels.reduce(_ unionByName _)
  }
}
