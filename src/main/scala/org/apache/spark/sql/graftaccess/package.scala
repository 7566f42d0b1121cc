package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.classic.ClassicConversions._

/** The Spark-internal accessors graft uses: `Dataset.ofRows` is
  * `private[sql]`, the listener bus `private[spark]`.
  */
package object graftaccess {

  /** `df`'s analyzed plan as a DataFrame of `session`: it plans and runs
    * under `session`'s confs, whatever session built it.
    */
  def rebind(session: SparkSession, df: DataFrame): DataFrame =
    classic.Dataset.ofRows(session, df.logicalPlan)

  /** Blocks until every listener has seen every event posted so far. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
