package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole ScalaTest run (Test/fork := true,
  * suites run sequentially in one JVM). */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.configure(
      SparkSession.builder().master("local[4]"), 4, "graft-test")
    .config("spark.sql.warehouse.dir",
      graft.sources.Scratch.dir("graft-wh").toString)
    .getOrCreate()

  /** Run `body` with the session confs set to `kvs`, restoring them after
    * (the range-scan operators partition by `spark.sql.shuffle.partitions`). */
  def withConf[T](kvs: (String, String)*)(body: => T): T = {
    val conf = spark.conf
    val before = kvs.map { case (k, _) => k -> conf.getOption(k) }
    kvs.foreach { case (k, v) => conf.set(k, v) }
    try body
    finally before.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  val sf0001 = "/root/testdata/sf0.001"
}
