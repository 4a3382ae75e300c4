package graft

import org.apache.spark.sql.SparkSession

/** One shared session for all suites (suites reference the lazy val, so
  * the JVM starts a single SparkContext regardless of suite order). */
object TestSpark {
  val sf0001 = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = Verify.start("graft-test", "4",
    s"${sys.props("java.io.tmpdir")}/graft-test-warehouse-${ProcessHandle.current().pid()}")
}
