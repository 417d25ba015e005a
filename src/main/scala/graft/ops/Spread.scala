package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Scan-parallelism floor for per-row-CPU-heavy operator inputs
  * (optimization guide §2: derive partitioning from the input and the
  * session, never a constant tuned for one deployment).
  *
  * A parquet scan's map-side parallelism equals its split count, and a
  * compact input — one or few files under `maxPartitionBytes`, the shape
  * of this repo's sf tables and build-once aux artifacts — runs the
  * whole fused scan→tokenize/explode/hash stage on ONE core no matter
  * how many the session has (measured: the 5000-row single-file
  * `shingle_sets` scan+explode+agg stage ran 1 task for 0.5–0.9 s while
  * 31 cores idled, per-stage task profile). Operators whose first phase does
  * heavy per-row compute call [[minParallel]] on their input: when the
  * scan already carries at least the session's configured shuffle
  * parallelism — the production multi-file shape at corpus scale — it
  * is a NO-OP and adds no exchange; only a narrow input pays one small
  * hash exchange on `key` to unlock every core. The target comes from
  * `spark.sql.shuffle.partitions` (session-parameterised: local[cpus]
  * here, cluster-set in production), and the EXPLICIT partition number
  * keeps AQE from byte-coalescing the spread back down — these rows are
  * small; it is the per-row work downstream that needs the cores.
  */
object Spread {
  /** CONTRACT: pass a raw file read or an already-materialized
    * (checkpointed) frame. The partition probe below goes through
    * `df.rdd`, and on a frame with UNMATERIALIZED upstream exchanges AQE
    * materializes those query stages right here — the caller would then
    * re-execute them at action time. A bare file scan has no exchanges
    * (the probe is job-free there), and a many-file input short-circuits
    * on file metadata alone. */
  def minParallel(df: DataFrame, key: String): DataFrame = {
    val target = df.sparkSession.sessionState.conf.numShufflePartitions
    // a file-backed input with >= target files is parallel enough by
    // construction — decided from metadata, no plan compilation at all
    // (and crucially no repartition: at corpus scale the input is large
    // and an exchange here would shuffle all of it for nothing)
    if (df.inputFiles.length >= target) df
    else if (df.rdd.getNumPartitions >= target) df
    else df.repartition(target, col(key))
  }
}
