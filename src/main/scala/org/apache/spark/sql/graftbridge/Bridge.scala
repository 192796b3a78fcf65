package org.apache.spark.sql
package graftbridge

import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** The package-private doorways the engine needs. `ofRows` turns a
  * custom LogicalPlan into a DataFrame: Spark deliberately scopes
  * `Dataset.ofRows` to the sql package; extension libraries that add
  * whole logical operators (Delta, Iceberg, Sedona, ...) all open it the
  * same way — a minimal bridge object compiled inside
  * `org.apache.spark.sql`. `unpersistRDD` releases an RDD's blocks
  * without RDD.unpersist's WARN for locally checkpointed RDDs
  * (GraftSession.free releases them on purpose). Everything else in
  * graft sticks to the public API; keep this file to these methods.
  */
object Bridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  def unpersistRDD(sc: SparkContext, rddId: Int): Unit =
    sc.unpersistRDD(rddId, blocking = false)
}
