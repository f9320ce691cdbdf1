package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike

/** Scale-adaptive parallelism floor (optimization guide §2.5 "input skew" /
  * §6 small files). The sandbox sf tables are single parquet files with ONE
  * row group, so every scan plans as exactly one task and the whole map side
  * of a query (tokenize/shingle/hash/cosine) runs single-threaded no matter
  * how many cores the session has — measured r6: q24's 2M-pair cosine loop,
  * q18/q20's shingle pass and q12's token scan all ran in one task at
  * local[32].
  *
  * `fan` repartitions ONLY when the source has fewer splits than the
  * session's parallelism, so it is a no-op at production scale (real inputs
  * have thousands of splits) and never a hard-coded constant: the target is
  * `sparkContext.defaultParallelism`. Callers must project to the needed
  * columns FIRST so the repartition does not defeat column pruning.
  */
object Par {
  def fan(df: DataFrame): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (width(df.queryExecution.executedPlan) < p) df.repartition(p) else df
  }

  /** The partition count `plan` declares, read without executing it (under
    * AQE, `df.rdd` would run every exchange below it): the nearest
    * exchange's width, else a file scan's split count.
    */
  private def width(plan: SparkPlan): Int = plan match {
    case a: AdaptiveSparkPlanExec => width(a.inputPlan)
    case e: ShuffleExchangeLike => e.numPartitions
    case f: FileSourceScanExec => f.inputRDD.getNumPartitions
    case p => p.outputPartitioning.numPartitions match {
      case 0 if p.children.nonEmpty => p.children.map(width).max
      case n => n
    }
  }
}
