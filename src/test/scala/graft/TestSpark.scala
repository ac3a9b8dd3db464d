package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole forked test JVM: the mains'
  * session, at a fixed 4 cores. */
object TestSpark {
  lazy val spark: SparkSession = Harness.session(4)

  val sf0001 = "/root/testdata/sf0.001"

  def res(name: String): String =
    getClass.getClassLoader.getResource(name).getPath
}
