package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.PlanExpression
import org.apache.spark.sql.functions.spark_partition_id
import org.apache.spark.sql.execution.{FileSourceScanExec, RDDScanExec, SparkPlan, UnaryExecNode}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Input-skew guard for CPU-bound per-row expansions (optimization guide
  * §2.5): a small parquet file scans as ONE partition (a 128 MB split
  * swallows it whole), and an explode/hash/shingle pipeline inheriting
  * that layout runs single-threaded while the rest of the machine idles —
  * the profile showed q97's trigram explode as one 1.9 s task with 31
  * cores idle. Repartitioning costs one exchange of the narrow projection,
  * and only fires when the source has fewer partitions than the cluster
  * has slots; at 100 TB scans arrive thousands of partitions wide and this
  * is a no-op (no exchange added).
  *
  * The spread is a plan boundary. A plain `repartition` is not one: a
  * filter on a column computed above it is pushed beneath the exchange
  * with the column's expression inlined, so the work the spread exists
  * to parallelize runs in the single scan task, and again above the
  * exchange. Catalyst never pushes a filter through, or combines one
  * with, a filter on a nondeterministic condition, so an always-true
  * `spark_partition_id() >= 0` above the exchange holds every later
  * filter there, at the cost of one integer compare per row. The
  * partition count is read from the physical plan, never by executing
  * it: `df.rdd.getNumPartitions` runs every upstream shuffle as a job
  * when the plan has one.
  *
  * Results are unaffected: every consumer aggregates with
  * partitioning-invariant sums/counts/mins (the repo-wide DECIMAL/integer
  * discipline), so the round-robin layout never reaches an answer.
  */
private[graft] object Spread {
  def toCores(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (partitionsOf(df.queryExecution.executedPlan).exists(_ >= target)) df
    else df.repartition(target).filter(spark_partition_id() >= 0)
  }

  /** The partition count `plan` will run with, when the plan states it:
    * its output partitioning, else a file or RDD scan's split count found
    * through partitioning-preserving unary nodes. None when unknown.
    */
  private def partitionsOf(plan: SparkPlan): Option[Int] = plan match {
    case a: AdaptiveSparkPlanExec => partitionsOf(a.inputPlan)
    case p if p.outputPartitioning.numPartitions > 0 =>
      Some(p.outputPartitioning.numPartitions)
    // a scan pruned by a subquery's result (dynamic partition pruning)
    // would run that subquery to list its splits
    case s: FileSourceScanExec if !s.partitionFilters.exists(
        _.exists(_.isInstanceOf[PlanExpression[_]])) =>
      Some(s.inputRDD.getNumPartitions)
    case r: RDDScanExec => Some(r.rdd.getNumPartitions)
    case u: UnaryExecNode => partitionsOf(u.child)
    case _ => None
  }
}
