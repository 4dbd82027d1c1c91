package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole forked test JVM. */
object SparkTestBase {
  lazy val session: SparkSession = Session.local(4)
}

trait SparkTestBase {
  lazy val spark: SparkSession = SparkTestBase.session
}
