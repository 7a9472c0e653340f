package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (sbt forks a single test JVM).
  * Four cores whatever the machine, so specs see the same partition
  * counts everywhere.
  */
object SparkTestSession {
  lazy val spark: SparkSession = GraftSession.builder(cpus = 4).getOrCreate()
  val sf0001 = "/root/testdata/sf0.001"
  /** Same 500-document corpus size, different content — the dir for
    * specs whose subject only manifests there (the trained classifier
    * separates sf0.01's corpus but is all-negative on sf0.001's).
    */
  val sf001 = "/root/testdata/sf0.01"
}
