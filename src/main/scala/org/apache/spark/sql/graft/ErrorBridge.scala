package org.apache.spark.sql.graft

import org.apache.spark.sql.errors.QueryCompilationErrors

/** Bridge to Spark's `private[sql]` analysis errors, so graft's SQL
  * function builders fail the same way Spark's own builders do. */
object ErrorBridge {
  /** The `WRONG_NUM_ARGS` AnalysisException for a call of `name` with
    * `actual` arguments when `valid` lists the accepted counts. */
  def wrongNumArgs(name: String, valid: Seq[Int], actual: Int): Throwable =
    QueryCompilationErrors.wrongNumArgsError(name, valid, actual)
}
