package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into `private[sql]` Column↔Expression conversion — the standard
  * technique OSS Spark extensions use to expose custom Catalyst
  * expressions as user-facing Columns on Spark 4 (where `new
  * Column(expr)` is gone).
  */
object bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `t` with every field, array element and map value nullable — the
    * `private[spark]` `DataType.asNullable` that `from_json` parses into
    * (a payload may omit any field, whatever the declared schema says).
    */
  def asNullable(t: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = t.asNullable

  /** One of Spark's provisioned scratch directories for the current JVM
    * (`spark.local.dir` / YARN `LOCAL_DIRS` — the NVMe scratch a real
    * cluster provisions), `None` in a bare JVM. Spill files belong here,
    * not in `java.io.tmpdir`: on a cluster node `/tmp` is often a small
    * root volume or tmpfs, exactly the wrong place for a compaction's
    * sort runs. Resolution goes through Spark's own `Utils.getLocalDir`
    * (the resolver the shuffle machinery uses), reachable only from an
    * `org.apache.spark` subpackage — hence this bridge.
    */
  /** Execute a parsed LogicalPlan as a DataFrame — the `private[sql]`
    * `Dataset.ofRows`, for driving [[graft.GraftSqlParser]] statements on
    * sessions built WITHOUT `spark.sql.extensions` (gates must not depend
    * on session wiring).
    */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** `plan` with its cached fragments substituted, computed now — a
    * frame's own `withCachedData` misses persists taken after it planned.
    */
  def useCachedData(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.useCachedData(plan.clone())

  def sparkLocalDir(): Option[java.io.File] =
    try Option(org.apache.spark.SparkEnv.get).map { env =>
      new java.io.File(org.apache.spark.util.Utils.getLocalDir(env.conf))
    }.filter(_.isDirectory)
    catch { case _: Throwable => None }
}
