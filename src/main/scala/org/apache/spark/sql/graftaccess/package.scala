package org.apache.spark.sql

import org.apache.spark.sql.classic.ClassicConversions._

/** The one Spark-internal accessor graft uses: `Dataset.ofRows` is
  * `private[sql]`.
  */
package object graftaccess {

  /** `df`'s analyzed plan as a DataFrame of `session`: it plans and runs
    * under `session`'s confs, whatever session built it.
    */
  def rebind(session: SparkSession, df: DataFrame): DataFrame =
    classic.Dataset.ofRows(session, df.logicalPlan)
}
