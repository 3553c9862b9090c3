package graft.api

import org.apache.spark.sql.{Column, DataFrame, Row}

/** Bounded-memory feed iteration for the driver-side callback layer —
  * its only user is [[ListenerRegistry]]'s replays: stream a
  * feed's rows to the driver in order WITHOUT collecting it whole,
  * and without a job per shuffle partition either (`toLocalIterator`
  * runs one Spark job per partition; over a plain `orderBy` that is
  * one job per shuffle partition — ~200 scheduler round-trips on
  * default cluster confs for a feed that fits in kilobytes).
  * Range-partition the feed into a FIXED small partition count and
  * sort within: RangePartitioner assigns ascending key ranges to
  * ascending partition ids, so iterating partitions in index order
  * preserves the global order at `FeedParts` jobs flat.
  *
  * The memory bound, honestly (r16 advice): driver residency is ONE
  * RANGE's rows ≈ |feed| / FeedParts — linear in the feed divided by
  * a constant, NOT a constant. It divides even for a single hot key
  * because every caller's order columns end in a UNIQUE tiebreaker
  * (event_id, or an already-unique tick), so RangePartitioner can
  * split one key's history across ranges — order keys without a
  * unique suffix would pin the whole history into one range and the
  * bound degrades to |feed|. A deployment trading jobs for residency
  * raises FeedParts (memory/latency dial); the collect-everything
  * alternative this replaced was |feed| with no dial.
  */
private[api] object FeedIter {
  private val FeedParts = 4

  def rows(df: DataFrame, order: Column*): Iterator[Row] = {
    import scala.jdk.CollectionConverters._
    df.repartitionByRange(FeedParts, order: _*)
      .sortWithinPartitions(order: _*)
      .toLocalIterator().asScala
  }
}
