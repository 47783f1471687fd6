package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.physical.UnknownPartitioning
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.internal.SQLConf

/** Minimal bridge into Spark-private surface (hence the package): two
  * checkpoint helpers that rebuild the checkpoint's `LogicalRDD` with
  * statistics other than the ones Spark inherits.
  *
  * Spark 4's `Dataset.checkpoint` builds its `LogicalRDD` with
  * `originStats` = the PRE-checkpoint plan's estimated statistics, so
  * the truncated plan still plans joins with realistic sizes. For a
  * fixpoint loop that re-checkpoints each iteration this inheritance
  * compounds: join estimates are PRODUCTS of child sizes, so an
  * iteration whose plan joins the checkpointed state with itself k
  * times produces sizeInBytes ≈ S^k — the estimate's DIGIT COUNT grows
  * k-fold per iteration, and by ~iteration 8 Catalyst is multiplying
  * million-digit BigInts inside stats estimation: planning a single
  * take(1) burns minutes of driver CPU (observed: the round-9 SCC
  * rewrite hung its own spec there, in
  * SizeInBytesOnlyStatsPlanVisitor via canBroadcastBySize).
  *
  * [[localCheckpointCapped]] CAPS the inherited size at checkpoint time.
  * Capping is planning-neutral: every capped value still far exceeds any
  * autoBroadcastJoinThreshold, and genuinely small states (the ones a
  * broadcast decision cares about) sit below the cap untouched. Row
  * counts and column stats pass through unchanged.
  *
  * [[commit]] goes further for frames that are read many times (a
  * quad-store version): it MEASURES the materialized rows and sizes the
  * partitions from the measurement.
  */
object GraftSparkInternals {

  /** 1 PiB — astronomically above any broadcast threshold, harmlessly
    * below BigInt-blowup territory. */
  private val SizeCap: BigInt = BigInt(1L) << 50

  /** Name of every RDD [[commit]] produced: a frame whose plan is a
    * `LogicalRDD` over such an RDD is already committed. */
  private val Committed = "graft.commit"

  /** Call-site sugar: `df.localCheckpointCapped` via
    * `import org.apache.spark.sql.GraftSparkInternals.CappedCheckpoint`. */
  implicit class CappedCheckpoint(private val df: DataFrame) extends AnyVal {
    def localCheckpointCapped: DataFrame =
      GraftSparkInternals.localCheckpointCapped(df)
  }

  /** `df.localCheckpoint()` with the origin-stats size estimate capped,
    * so iterative self-join loops can checkpoint every round without
    * exponential stats compounding. `eager = false` defers the
    * materialization to the first consuming job (one fewer serial driver
    * job; Spark backfills any partitions that job skipped) — right when
    * the consumers are strictly downstream jobs, wrong when concurrent
    * stages would race to compute the frame. */
  def localCheckpointCapped(df: DataFrame, eager: Boolean = true): DataFrame = {
    val out = df.localCheckpoint(eager)
    out.queryExecution.analyzed match {
      case lr: LogicalRDD =>
        val stats = lr.computeStats()
        if (stats.sizeInBytes <= SizeCap) out
        else rebuild(df, lr, lr.rdd, lr.outputPartitioning, lr.outputOrdering,
          stats.copy(sizeInBytes = SizeCap))
      case _ => out
    }
  }

  /** Materialize `df` once, right-sized and with measured statistics,
    * in exactly one job.
    *
    * That job computes the rows into local-checkpoint blocks and measures
    * their count and UnsafeRow bytes. The partition count becomes
    * `max(1, ceil(bytes / spark.sql.adaptive.advisoryPartitionSizeInBytes))`
    * (the size AQE already aims a shuffle partition at); when that differs
    * from the computed count, the returned frame reads the blocks through
    * a lazy re-blocking RDD: a narrow coalesce to shrink, a round-robin
    * shuffle (run by the first scan, its output reused by later ones) only
    * to grow. The returned plan carries the measured `sizeInBytes` and row
    * count, so Catalyst plans joins against it from its real size instead
    * of from an estimate inherited through the joins and unions that built
    * it, and every scan of it runs one task per right-sized partition.
    *
    * Committing a frame that is already committed returns it unchanged
    * and runs no job. */
  def commit(df: DataFrame): DataFrame = df.queryExecution.analyzed match {
    case lr: LogicalRDD if lr.rdd.name == Committed => df
    case _ =>
      val cp = df.localCheckpoint(eager = false)
      val lr = cp.queryExecution.analyzed.asInstanceOf[LogicalRDD]
      val rows = lr.rdd
      val schema = lr.schema
      // the measuring job is the checkpoint's materializing job: it
      // computes every partition, so the blocks are all in place after it
      val (count, bytes) = rows.mapPartitions { it =>
        lazy val toUnsafe = UnsafeProjection.create(schema)
        var n, b = 0L
        it.foreach { r =>
          n += 1
          b += (r match {
            case u: UnsafeRow => u.getSizeInBytes
            case other => toUnsafe(other).getSizeInBytes
          })
        }
        Iterator.single((n, b))
      }.fold((0L, 0L)) { case ((n1, b1), (n2, b2)) => (n1 + n2, b1 + b2) }
      val advisory = df.sparkSession.sessionState.conf
        .getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
      val target = math.max(1L, (bytes + advisory - 1) / advisory).toInt
      val stats = Statistics(sizeInBytes = BigInt(bytes), rowCount = Some(BigInt(count)))
      if (target == rows.getNumPartitions)
        rebuild(df, lr, rows.setName(Committed), lr.outputPartitioning, lr.outputOrdering, stats)
      else {
        val sized = rows.coalesce(target, shuffle = target > rows.getNumPartitions)
          .setName(Committed)
        rebuild(df, lr, sized, UnknownPartitioning(sized.getNumPartitions), Nil, stats)
      }
  }

  /** The frame over `lr`'s output read from `rdd`, with `stats` as its
    * statistics. */
  private def rebuild(df: DataFrame, lr: LogicalRDD, rdd: RDD[InternalRow],
      partitioning: catalyst.plans.physical.Partitioning,
      ordering: Seq[catalyst.expressions.SortOrder], stats: Statistics): DataFrame = {
    val session = df.sparkSession.asInstanceOf[classic.SparkSession]
    val fresh = LogicalRDD(lr.output, rdd, partitioning, ordering, lr.isStreaming,
      lr.stream)(session, Some(stats), None)
    classic.Dataset.ofRows(session, fresh)
  }
}
