package graft.plans

import org.apache.spark.sql.catalyst.expressions.PlanExpression
import org.apache.spark.sql.catalyst.optimizer.BuildLeft
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, Exchange, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledJoin}
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}

/** AQE query-stage preparation rule: replace an `ENSURE_REQUIREMENTS`
  * shuffle (hash, range or single-partition) whose input plans exactly ONE
  * partition by a `CoalesceExec(1)`, a narrow merge that runs in the
  * consumer's task. Such an exchange only moves rows from one partition
  * into one partition, and costs a shuffle-map job, plus a sampling job for
  * a range exchange, before AQE coalesces the result straight back to one
  * partition.
  *
  * The answer never depends on the partition count being right. One
  * partition holding every row satisfies every non-broadcast distribution
  * (`SinglePartition.satisfies`), and `CoalesceExec(1)` outputs exactly one
  * partition whatever its input turns out to be at execution: an empty
  * input still gives one (empty) partition, so a global aggregate keeps its
  * one row, and a scan that runs as several partitions after all (the conf
  * changed after planning, or executors joined and `maxSplitBytes` fell)
  * merges into one task. The count only decides whether the exchange is
  * worth dropping; a wrong count costs parallelism, not rows.
  *
  * The input plans one partition when it comes from
  *   - a non-bucketed [[FileSourceScanExec]] without dynamic pruning that
  *     plans one split ([[splits]]), or
  *   - an [[RDDScanExec]] with one partition (a `Blocks` checkpoint or a
  *     `SharedBase` at small scale),
  * and reaches the exchange only through operators that keep the partition
  * count: project, filter, generate, sort, aggregates, window, window group
  * limit, expand, and the streamed side of a broadcast hash join. A
  * generate or a join can grow its input, and the exchange above it then
  * spreads the grown rows over the cores. They stay carriers because
  * cutting the proof there gave back gr3's gain (sf0.1) and most of the
  * light registry's, and no heavy query at sf0.1 runs slower with them.
  *
  * What it never touches:
  *   - user repartitions (`REPARTITION_BY_*`, `REBALANCE`), so
  *     `Dedup.parallelize` and the screen's slab repartition stay;
  *   - the side exchanges of a sort-merge or shuffled-hash join unless
  *     every side plans one partition (then all go together, so the sides
  *     stay co-partitioned);
  *   - below any other multi-child node (union, nested-loop join, cogroup,
  *     as-of join), anything above the first exchange of each child, so a
  *     child's partitioning, which the node may rely on, never changes.
  *
  * A unary node outside the list keeps its input's exchanges dropped (one
  * partition satisfies whatever it requires) but is not trusted to output
  * one partition. A scan's files are listed only when an exchange above it
  * asks. The rule fires less as data grows, by construction: Spark already
  * splits any file above `spark.sql.files.openCostInBytes`, so at sf1 and
  * beyond it reaches mostly dimension tables and small checkpoints. Always
  * on: injected by [[graft.Sessions.builder]] and by
  * [[graft.functions.GraftExtensions]]; a session takes one of the two,
  * never both.
  */
object OnePartitionExchange extends Rule[SparkPlan] {

  override def apply(plan: SparkPlan): SparkPlan =
    if (plan.exists(ensured)) rewrite(plan).plan else plan

  private def ensured(p: SparkPlan): Boolean = p match {
    case e: ShuffleExchangeExec => e.shuffleOrigin == ENSURE_REQUIREMENTS
    case _ => false
  }

  /** `plan`: the node with its redundant exchanges dropped; `one`: whether
    * `plan` plans exactly one partition, computed only when an exchange
    * above asks; `kept`: the node with its output partitioning unchanged,
    * only what lies below the first exchange on each path rewritten. A
    * multi-child node that relies on its children's partitioning takes
    * their `kept` forms.
    */
  private final class Rewritten(val plan: SparkPlan, isOne: => Boolean, val kept: SparkPlan) {
    lazy val one: Boolean = isOne
  }

  private def rewrite(p: SparkPlan): Rewritten = {
    val cs = p.children.map(rewrite)
    val rewritten = p.withNewChildren(cs.map(_.plan))
    val kept = p match {
      case _: Exchange => rewritten
      case _ => p.withNewChildren(cs.map(_.kept))
    }
    p match {
      case s: FileSourceScanExec => new Rewritten(s, splits(s).contains(1), s)
      case s: RDDScanExec => new Rewritten(s, s.rdd.getNumPartitions == 1, s)
      case e: ShuffleExchangeExec if ensured(e) && cs.head.one =>
        new Rewritten(CoalesceExec(1, cs.head.plan), true, kept)
      case _: ShuffledJoin if cs.forall(_.one) => new Rewritten(rewritten, true, kept)
      case j: BroadcastHashJoinExec =>
        new Rewritten(rewritten, cs(if (j.buildSide == BuildLeft) 1 else 0).one, kept)
      case _: ProjectExec | _: FilterExec | _: GenerateExec | _: SortExec |
           _: BaseAggregateExec | _: WindowExec | _: WindowGroupLimitExec | _: ExpandExec =>
        new Rewritten(rewritten, cs.head.one, kept)
      case _ if cs.size == 1 => new Rewritten(rewritten, false, kept)
      case _ => new Rewritten(kept, false, kept)
    }
  }

  /** The number of read splits (= RDD partitions) `scan` will plan, by
    * Spark's own arithmetic over its file listing, without building its
    * RDD; `None` for a bucketed scan or one with dynamic or subquery
    * filters, whose count is not known before execution. The count uses
    * the session conf and default parallelism at planning time; the scan
    * re-reads both when it builds its RDD. This is the one place that
    * counts a scan's splits.
    */
  def splits(scan: FileSourceScanExec): Option[Int] = {
    val relation = scan.relation
    val dynamic = (scan.partitionFilters ++ scan.dataFilters)
      .exists(_.exists(_.isInstanceOf[PlanExpression[_]]))
    if (relation.bucketSpec.nonEmpty || dynamic) None
    else {
      val session = relation.sparkSession
      val listing = scan.selectedPartitions
      val maxSplitBytes = FilePartition.maxSplitBytes(session, listing)
      val files = listing.filePartitionIterator.flatMap { part =>
        part.files.flatMap { file =>
          val path = file.getPath
          PartitionedFileUtil.splitFiles(file, path,
            relation.fileFormat.isSplitable(session, relation.options, path),
            maxSplitBytes, part.values)
        }
      }.toSeq.sortBy(-_.length)
      Some(FilePartition.getFilePartitions(session, files, maxSplitBytes).size)
    }
  }
}
