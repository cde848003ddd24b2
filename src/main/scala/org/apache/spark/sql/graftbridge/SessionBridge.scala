package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.classic.Dataset

/** Bridge into the `private[sql]` frame constructor, to move a frame
  * between sessions of one SparkContext. */
object SessionBridge {
  /** `df`'s plan as a frame of `session`: a frame built on it plans and
    * runs under `session`'s conf. */
  def on(session: SparkSession, df: DataFrame): DataFrame =
    if (df.sparkSession eq session) df
    else Dataset.ofRows(castToImpl(session), castToImpl(df).logicalPlan)
}
