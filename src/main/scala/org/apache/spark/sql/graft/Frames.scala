package org.apache.spark.sql.graft

import org.apache.spark.sql.{classic, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Spark's DataFrame-over-a-plan constructor, which is private to the `sql` package. */
object Frames {

  /** A new DataFrame over `plan`. An already analyzed plan is not analyzed again,
    * so the frame keeps its attribute ids. */
  def ofPlan(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
