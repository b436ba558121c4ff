// Pin lives under org.apache.spark.sql because it builds its frame from
// `LogicalRDD.fromDataset` and `classic.Dataset.apply`, both private[sql].
package org.apache.spark.sql.graft

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}
import org.apache.spark.storage.StorageLevel

/** How every reused frame in this library is kept: two functions, one per
  * reason to keep a frame.
  *
  * Why a frame is pinned at all. Catalyst plans each consumer of a frame
  * as its own subtree, so a frame read twice is computed twice. Column
  * pruning makes it worse for fused aggregates: each consumer's projection
  * is pushed into the shared aggregate and splits it into per-branch
  * aggregates that each re-scan the input (one shingle explode feeding
  * band keys and shingle sets becomes two explodes). A pin is a relation
  * that pruning cannot look through, computed once.
  *
  * Why neither `Dataset.cache` nor `Dataset.localCheckpoint`:
  *  - `cache`/`persist` register the plan in the session's `CacheManager`.
  *    The frame stays there until an explicit `unpersist`, which an
  *    operator that returns a lazy frame has no place to issue, and any
  *    later query with an equal plan silently reads it.
  *  - `localCheckpoint` drops the lineage. A lost block (executor loss,
  *    decommission) then fails the job with
  *    `CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND` instead of being recomputed. A
  *    lazy one drops it when the first job that computes it ends; the
  *    pinned plan's SQL metrics become unreachable while a second job that
  *    reads the same frame is still running, and that job's metric updates
  *    are lost ("non-existent accumulator").
  *
  * Both functions hand back a frame whose rows are RDD blocks owned by
  * Spark's `ContextCleaner`: they are released once the returned frame
  * and every frame built on it are garbage collected, with no call to
  * make. Downstream the frame is a `Scan ExistingRDD` that carries the
  * pinned plan's output partitioning and ordering, so a join or aggregate
  * on the same keys plans no new exchange. */
object Pin {

  /** Reuse within one computation: the frame is read by more than one
    * consumer. The pinned plan's rows are kept at `MEMORY_AND_DISK`, and
    * its lineage is kept with them.
    *
    * Jobs: under AQE the pinned plan's shuffle stages run at this call
    * (so a range partitioner's boundaries are sampled here, once); its
    * last stage runs at first use, inside the consumer's job. The call
    * runs as a SQL execution of its own, as a local checkpoint's does:
    * executors then compile and cache whole-stage code under the
    * session's class loader for these stages too, so a second run of the
    * same plan finds every class compiled by the first.
    *
    * A lost block is recomputed from the lineage: surviving shuffle
    * output is reused, and a re-run map stage reuses the same shuffle
    * dependency, hence the same partitioner and range boundaries. The
    * recomputed partition therefore holds the same rows whenever the
    * pinned plan is deterministic for a fixed partition: no `rand`, and
    * no value that depends on row order inside a partition after a
    * shuffle (`first`, `row_number` or `monotonically_increasing_id`
    * without a total order on the rows it numbers).
    *
    * The lineage, and the upstream shuffle files it references, stay
    * alive as long as the frame does. That is the right trade for a frame
    * computed once and read a few times; for state that replaces itself
    * every round it keeps every round alive, and [[truncate]] is the
    * function to use. */
  def apply[T](ds: Dataset[T]): Dataset[T] = {
    val d = castToImpl(ds)
    val rows = SQLExecution.withNewExecutionId(d.queryExecution, Some("pin"))(d.queryExecution.toRdd)
      .map(_.copy()).persist(StorageLevel.MEMORY_AND_DISK)
    classic.Dataset(d.sparkSession, LogicalRDD.fromDataset(rows, d, d.isStreaming))(d.encoder)
  }

  /** Loop-carried state only: a frame that replaces its predecessor every
    * round (PageRank ranks, label-propagation labels, BPE word tables —
    * up to tens of thousands of rounds). The lineage is cut, so earlier
    * rounds' plans, blocks and shuffle files are released as each round
    * replaces the last; a lineage-keeping [[apply]] would hold all of
    * them.
    *
    * Eager: the frame is computed by its own job at this call. The job is
    * the only one that ever computes it, so no concurrently running
    * consumer can outlive the pinned plan's metrics, and the next round's
    * plan starts from finished blocks. A lost block fails the job: these
    * blocks live only on the executor that computed them. */
  def truncate[T](ds: Dataset[T]): Dataset[T] = ds.localCheckpoint(eager = true)
}
