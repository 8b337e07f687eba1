package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Driver-metadata answer to "would this frame's scan under-parallelize
  * a CPU-heavy per-row projection?" — the `spread` gate behind the
  * Dedup signature builds and the Similarity per-vector projections.
  * A compact parquet source (one ~MB file → one input split) would
  * otherwise run the whole projection on a single core; at corpus
  * scale the source's own splits already parallelize and the gate
  * skips the exchange.
  *
  * Primary signal: the optimizer's size estimate (never an execution —
  * `.rdd.getNumPartitions` under AQE materializes every upstream query
  * stage just to report a count; the r17 lesson). BUT the estimate has
  * a failure mode the r17 gate ignored: plans whose leaves carry no
  * statistics (a LogicalRDD behind a localCheckpoint, a LocalRelation
  * fixture) report `spark.sql.defaultSizeInBytes` — Long.MaxValue, the
  * "unknown" SENTINEL, not a measurement — and reading it as "big"
  * silently skips the repartition and single-cores the signature build
  * for exactly the frames spread() exists to protect. At or above the
  * sentinel we therefore fall back to a structural probe: the concrete
  * partition count of the RDD/local leaves, which is driver metadata
  * too (these RDDs already exist; nothing plans or executes). Leaves we
  * can't size structurally keep the old skip — wrong only in the
  * direction of "no extra exchange". */
object PlanStats {
  /** `df` repartitioned by `idCol` across defaultParallelism when
    * [[needsSpread]], else `df`. The partition count is pinned, or AQE
    * re-coalesces the KB-sized exchange, blind to the downstream
    * compute. */
  def spread(df: DataFrame, idCol: String): DataFrame =
    if (needsSpread(df))
      df.repartition(df.sparkSession.sparkContext.defaultParallelism, col(idCol))
    else df

  /** True when `df` is small/narrow enough that a pre-projection
    * `repartition(defaultParallelism)` buys parallelism worth one
    * KB-to-MB exchange. Recorded as the `spread` gate. */
  def needsSpread(df: DataFrame): Boolean = {
    val sess = df.sparkSession
    val parts = sess.sparkContext.defaultParallelism
    val plan = df.queryExecution.optimizedPlan
    val est = plan.stats.sizeInBytes
    val splitBytes = sess.sessionState.conf.filesMaxPartitionBytes
    val sentinel = BigInt(sess.sessionState.conf.defaultSizeInBytes)
    val threshold = BigInt(splitBytes) * parts
    val (via, limit, decision) =
      if (est < sentinel) ("estimate", threshold.toLong, est < threshold)
      else {
        val leafParts = plan.collectLeaves().map {
          case l: org.apache.spark.sql.execution.LogicalRDD =>
            l.rdd.getNumPartitions
          case _: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => 1
          case _ => Int.MaxValue // unsizable leaf: keep the old skip
        }
        ("leaf-partitions", parts.toLong, leafParts.nonEmpty && leafParts.max < parts)
      }
    // recorded per call, so a scale rehearsal can confirm post-join
    // frames take the intended branch (optimizer estimates can be badly
    // wrong after joins/filters — a silent mis-estimate here
    // single-tasks a signature build)
    Gate.record("spread", "", limit,
      Seq("via" -> via, "est" -> est, "threshold" -> threshold))(decision)
  }
}
