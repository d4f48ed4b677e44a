package lakebench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** How the benchmark makes a returned DataFrame do its work: every output
  * column is computed, either through Spark's `noop` sink (writes nothing)
  * or by a collect whose rows are then checked. Never `count()`, which lets
  * the optimizer drop projections, filters and aggregates.
  *
  * With `checkPlans` on, each noop-forced read also records whether the
  * timed action's optimized plan still holds every operator of the result
  * plan.
  */
object Force {
  @volatile var checkPlans = false
  val checked = mutable.ArrayBuffer[String]()
  val violations = mutable.ArrayBuffer[String]()
  /** Checked reads whose operators `count()` would have dropped: the
    * negative control showing the check can fail.
    */
  var countWouldLose = 0

  def noop(df: DataFrame, label: String): Unit =
    if (!checkPlans) write(df)
    else {
      val (qe, _) = captureAction(df)(write(df))
      record(label, df, qe)
    }

  def collect(df: DataFrame, label: String): Array[Row] =
    if (!checkPlans) df.collect()
    else {
      val (qe, rows) = captureAction(df)(df.collect())
      record(label, df, qe)
      rows
    }

  private def record(label: String, df: DataFrame, timed: QueryExecution): Unit = {
    checked += label
    val result = df.queryExecution.optimizedPlan
    val lost = lostOperators(result, timed.optimizedPlan)
    if (lost.nonEmpty) violations += s"$label lost $lost"
    val counted = df.groupBy().count().queryExecution.optimizedPlan
    if (lostOperators(result, counted).nonEmpty) countWouldLose += 1
  }

  private def write(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Operators (by node name, with multiplicity) of `result` that the
    * plan actually run, `timed`, does not contain.
    */
  def lostOperators(result: LogicalPlan, timed: LogicalPlan): Map[String, Int] = {
    def ops(p: LogicalPlan): Map[String, Int] =
      p.collect { case n => n.nodeName }.groupMapReduce(identity)(_ => 1)(_ + _)
    val have = ops(timed)
    ops(result).collect {
      case (op, n) if have.getOrElse(op, 0) < n => op -> (n - have.getOrElse(op, 0))
    }
  }

  /** Runs `action` and returns the QueryExecution of the last action it
    * triggered on `df`'s session.
    */
  private def captureAction[T](df: DataFrame)(action: => T): (QueryExecution, T) = {
    val spark = df.sparkSession
    val seen = mutable.ArrayBuffer[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        seen.synchronized(seen += qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val out = try action finally {
      org.apache.spark.lakebench.Bus.drain(spark.sparkContext)
      spark.listenerManager.unregister(listener)
    }
    (seen.synchronized(seen.last), out)
  }
}
