package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.physical.UnknownPartitioning
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.internal.SQLConf

/** Minimal bridge into Spark-private surface (hence the package): the
  * one helper that pins a frame, [[commit]], and the reader of what it
  * measured, [[measured]].
  *
  * The rule: a frame that is read more than once (a quad-store version,
  * the state of a fixpoint loop) is pinned with [[commit]], and a loop
  * that needs the pinned frame's size reads [[measured]] instead of
  * running a `count`/`isEmpty` job. A plain `localCheckpoint` builds its
  * `LogicalRDD` with the pre-checkpoint plan's ESTIMATED statistics; in a
  * loop that joins its checkpointed state with itself, join estimates are
  * products of child sizes, so the estimate compounds round over round
  * until Catalyst spends minutes multiplying million-digit BigInts
  * (observed: the round-9 SCC rewrite hung in
  * SizeInBytesOnlyStatsPlanVisitor). [[commit]] replaces the estimate
  * with the measured size, so nothing compounds.
  */
object GraftSparkInternals {

  /** Name of every RDD [[commit]] produced: a frame whose plan is a
    * `LogicalRDD` over such an RDD is already committed. */
  private val Committed = "graft.commit"

  /** Materialize `df` once, right-sized and with measured statistics,
    * in one measuring job. Under AQE, each exchange below `df` (a shuffle
    * map stage, a broadcast) first runs as a job of its own, so an input
    * with exchanges costs one job more per exchange.
    *
    * The measuring job computes the rows into local-checkpoint blocks and measures
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

  /** `(rows, bytes)` that [[commit]] measured for `df`, read without a
    * job. Only a frame [[commit]] returned carries them: a projection,
    * filter or join of one is planned from estimates again, so it is
    * rejected rather than answered with a guess. */
  def measured(df: DataFrame): (Long, Long) = df.queryExecution.analyzed match {
    case lr: LogicalRDD if lr.rdd.name == Committed =>
      val stats = lr.computeStats()
      (stats.rowCount.get.toLong, stats.sizeInBytes.toLong)
    case other => throw new IllegalArgumentException(
      s"not a committed frame (plan root ${other.nodeName}): measured reads " +
        "only what commit returned")
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
