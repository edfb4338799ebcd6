package graft

import org.apache.spark.sql.DataFrame

/** The timed action of a benchmark query. Actions:
  *  - noop: full materialization through Spark's no-op DSv2 sink — every
  *    column computed, the contract ORDER BY executed, nothing persisted.
  *    The honest posture vs DuckDB's result fetch; `graft.Bench` times it.
  *  - rdd:  toRdd.count() — measured ≈ noop; `perfbench` times it.
  *
  * A `count()` action is deliberately absent: the optimizer prunes work a
  * row count doesn't need (BENCH_NOTES "Round-7 session 3: the timed
  * action was wrong — count() pruned real work").
  */
object BenchAction {
  def run(action: String, df: DataFrame): Unit = action match {
    case "rdd" => df.queryExecution.toRdd.count(): Unit
    case "noop" => df.write.mode("overwrite").format("noop").save()
    case other => throw new IllegalArgumentException(s"unknown bench action '$other'")
  }
}
