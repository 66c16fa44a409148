package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}

/** Test-side access to `SparkSession.Builder.sparkContext`, which is
  * `private[spark]`. */
object TestSessions {

  /** A new session on the existing context `sc` with `extensions`
    * installed. It does not replace an active or default session, and
    * stopping it would stop `sc`. */
  def withExtensions(sc: SparkContext,
      extensions: SparkSessionExtensions => Unit): SparkSession =
    SparkSession.builder().sparkContext(sc).withExtensions(extensions).create()
}
