package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole ScalaTest run (Test/fork := true,
  * suites run sequentially in one JVM). */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.configure(
      SparkSession.builder().master("local[4]"), 4, "graft-test")
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft-wh").toString)
    .getOrCreate()

  val sf0001 = "/root/testdata/sf0.001"
}
