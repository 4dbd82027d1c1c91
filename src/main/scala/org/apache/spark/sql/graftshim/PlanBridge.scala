package org.apache.spark.sql.graftshim

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.{LogicalRDD, SparkStrategy}

/** Spark 4 moved `Dataset.ofRows` and the query-execution accessors
  * behind the `classic` implementation split. This shim re-exports the
  * three hooks a library needs to ship a custom logical operator:
  * build a DataFrame from a LogicalPlan, read a DataFrame's analyzed
  * plan, and register a planner strategy at runtime. */
object PlanBridge {

  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  def analyzed(df: DataFrame): LogicalPlan =
    df.asInstanceOf[classic.Dataset[Row]].queryExecution.analyzed

  /** The persisted RDD backing a `localCheckpoint()`ed DataFrame (whose
    * analyzed plan is a bare `LogicalRDD`), or None for any other plan
    * shape. This is the handle `Dataset` itself never exposes, and the
    * only way to `unpersist` a checkpoint's blocks — `df.rdd` would
    * build a NEW deserializing RDD that was never persisted. */
  def checkpointRdd(df: DataFrame): Option[RDD[_]] =
    analyzed(df) match {
      case lr: LogicalRDD => Some(lr.rdd)
      case _ => None
    }

  /** The same checkpointed frame with its carried origin CONSTRAINTS
    * dropped (zero-copy: the new `LogicalRDD` wraps the same persisted
    * RDD, so [[checkpointRdd]]-based release still works). Needed
    * because `localCheckpoint` preserves the source plan's inferred
    * constraints, and a constraint that mentions an attribute OUTSIDE
    * the checkpoint's own output (e.g. an alias-equality partner
    * projected away) crashes `Union.rewriteConstraints` with a
    * NoSuchElementException when two such frames are unioned — the
    * accumulate-settled-batches pattern in iterative operators.
    * No-op on non-checkpoint plans. */
  def stripConstraints(df: DataFrame): DataFrame =
    analyzed(df) match {
      case lr: LogicalRDD =>
        ofRows(df.sparkSession,
          lr.copy()(df.sparkSession.asInstanceOf[classic.SparkSession],
            None, None))
      case _ => df
    }

  /** An observation's metrics as one [[Row]] in declaration order,
    * blocking until the observed query has run (`Observation.get` keys
    * them by name in an unordered map; the row accessor is
    * `private[sql]`). */
  def observedRow(o: Observation): Row = o.getRow

  /** Idempotently append a strategy to the session's planner. Checks
    * the planner's full strategy list, not just the experimental slot,
    * so a session already configured with
    * `spark.sql.extensions=GraftExtensions` is not double-registered
    * (a duplicate strategy would make the planner enumerate the same
    * physical candidate twice for every query). */
  def ensureStrategy(spark: SparkSession, s: SparkStrategy): Unit = {
    val cs = spark.asInstanceOf[classic.SparkSession]
    if (!cs.sessionState.planner.strategies.contains(s) &&
        !cs.experimental.extraStrategies.contains(s))
      cs.experimental.extraStrategies = cs.experimental.extraStrategies :+ s
  }
}
