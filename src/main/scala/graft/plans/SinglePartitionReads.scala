package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{FilePartition, HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.graftshim.ManifestFileIndex

/** Optimizer rule: a read Spark scans as one task says so, where that
  * saves an exchange and costs no parallelism.
  *
  * A [[ManifestFileIndex]] read of one file whose length is at most
  * Spark's own `FilePartition.maxSplitBytes` for it is one
  * `FilePartition`, but the scan reports `UnknownPartitioning`, so an
  * aggregate above it plans an exchange, an AQE stage and a second job.
  * Under a consumer that gathers its input — an aggregate without
  * DISTINCT, a global sort (so a top-k), a window with no PARTITION BY —
  * this rule puts `coalesce(1)` between the consumer and the read (through
  * Project and Filter). `CoalesceExec(1)` reports
  * `SinglePartition`, which satisfies that consumer, so no exchange is
  * planned — as Spark's `RangeExec` does for one slice. Filters and
  * column pruning still reach the scan.
  *
  * Everywhere else the read is left alone, because the exchange there
  * spreads work the one task would do serially: a keyed window, a
  * DISTINCT aggregate (its middle levels; after Spark rewrites several
  * DISTINCTs, an aggregate over an `Expand`), anything under a `Union`,
  * which merges single-partition children into one task, and anything
  * under a `Join`. Below a join the exchange also makes the
  * aggregate its own query stage, which AQE runs while the other side's
  * stages run; coalesced, that work waits inside the join's stage until
  * the other side is done (q48 at sf0.1, 4 cores: 0.39 → 0.54 s).
  * A `repartition` on the read (as `graft.Tables` does for documents and
  * embeddings) is not a narrow step, so those reads keep their split.
  *
  * It is a logical rule because `EnsureRequirements` plans exchanges from
  * the partitioning a child reports: with the coalesce in the plan it
  * plans none, where a physical rule running after it would have to take
  * planned exchanges out again.
  */
case class SinglePartitionReads(session: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan match {
    case _: Union | _: Join => plan
    case p: UnaryNode if gathers(p) && oneSplit(p.child) =>
      p.withNewChildren(Seq(Repartition(1, shuffle = false, p.child)))
    case p => p.mapChildren(apply)
  }

  private def gathers(p: LogicalPlan): Boolean = p match {
    case a: Aggregate => !a.aggregateExpressions.exists(_.exists {
      case ae: AggregateExpression => ae.isDistinct
      case _ => false
    })
    case s: Sort => s.global
    case w: Window => w.partitionSpec.isEmpty
    case _ => false
  }

  private def oneSplit(p: LogicalPlan): Boolean = p match {
    case Project(_, child) => oneSplit(child)
    case Filter(_, child) => oneSplit(child)
    case l: LogicalRelation => l.relation match {
      case HadoopFsRelation(index: ManifestFileIndex, _, _, None, _, _) =>
        val dirs = index.listFiles(Nil, Nil)
        dirs.map(_.files.size).sum == 1 &&
          index.sizeInBytes <= FilePartition.maxSplitBytes(session, dirs)
      case _ => false
    }
    case _ => false
  }
}
