package org.apache.spark.sql.graft

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.classic

/** The Hadoop conf a session's shared state copied from its SparkContext when
  * it was built: every `newHadoopConf` of the session starts from it, and it is
  * `private[sql]`. */
object SessionBridge {
  def sharedHadoopConf(session: SparkSession): Configuration =
    session.asInstanceOf[classic.SparkSession].sharedState.hadoopConf
}
