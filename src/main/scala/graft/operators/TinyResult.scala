package graft.operators

import org.apache.spark.sql.{Column, DataFrame}

/** Global ordering for results KNOWN to be small (an aggregate over a
  * bounded group domain, a top-k, a metadata listing).
  *
  * A plain `.orderBy` plans Sort over a RangePartitioning exchange,
  * and building the range bounds runs a SAMPLING job over the sort's
  * child — re-executing everything above the last materialized
  * shuffle stage. When that child is an expensive final aggregate the
  * query silently pays for it twice: measured on the sf1 percentile
  * query, `.orderBy` over a 3-row aggregate added ~0.7 s (~60%) of
  * pure re-aggregation. A single-partition exchange sidesteps the
  * sampling entirely — SinglePartition satisfies OrderedDistribution,
  * so the in-partition sort IS the global sort and the child runs
  * once.
  *
  * Under adaptive execution with `GraftExtensions`,
  * [[graft.plans.CoalesceSmallShuffles]] already does this on its own
  * for a sort whose input is small: a materialized stage that adaptive
  * coalescing reads as one partition (at most the minimum partition
  * size, 1 MB by default, with parallelism-first coalescing), or a scan
  * of one split, under single-child operators. This helper is still
  * needed where the rule does not fire: results bounded by their domain
  * but larger than that coalescing size, inputs behind a join, a union
  * or a row-multiplying operator, and sessions without the extensions
  * or with adaptive execution off.
  *
  * Only for bounded results: every row lands on one task. The callers
  * in this library all sort outputs bounded by a group domain or an
  * explicit cap (the same bound that lets ExactPercentile collect its
  * histogram cells); a fact-sized sort must keep `.orderBy`.
  */
object TinyResult {
  /** globally ordered `df` without the range-sampling second
    * execution of df's plan; `df` must be small enough for one task */
  def globalSort(df: DataFrame, cols: Column*): DataFrame =
    df.repartition(1).sortWithinPartitions(cols: _*)
}
