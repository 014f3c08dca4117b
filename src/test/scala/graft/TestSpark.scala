package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (sbt test forks one JVM). */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.local("WARN", cpus = 4)
  val sf: String = "/root/testdata/sf0.001"
}
