package graft.tools
import org.apache.spark.sql.SparkSession
/** Dev-only: drives the public API surface the way a library user would. */
object Probe {
  def main(args: Array[String]): Unit = {
    // SQL text below calls a native function: inject them at build time
    val spark = graft.GraftSession.configure(SparkSession.builder().master("local[4]")
      .withExtensions(new graft.plans.GraftExtensions), 4, "probe").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // 1. driver contract: flagship entry
    val e = graft.SparkEntry.entry(spark)
    println(s"PROBE entry rows=${e.count()}")
    e.show(3, false)
    // 2. SQL front door: trailing semicolon + named param (E4/E5)
    graft.sources.Tables.registerAll(spark, "/root/testdata/sf0.001")
    val df = graft.sql.SqlRunner.run(spark,
      "SELECT COUNT(*) AS n FROM lineitem WHERE l_quantity > :q ;  ",
      Map("q" -> 40))
    println("PROBE param query:"); df.show()
    // 3. .sql file loading (E3)
    val f = java.io.File.createTempFile("probe", ".sql")
    java.nio.file.Files.writeString(f.toPath, "SELECT MAX(o_orderkey) AS mx FROM orders;")
    println("PROBE sql-file:"); graft.sql.SqlRunner.run(spark, f.getAbsolutePath).show()
    // 4. probe: param query with MISSING param should fail cleanly
    try {
      graft.sql.SqlRunner.run(spark, "SELECT :nope AS x").collect()
      println("PROBE missing-param: NO ERROR (unexpected)")
    } catch { case ex: Exception =>
      println(s"PROBE missing-param error: ${ex.getClass.getSimpleName}: ${ex.getMessage.linesIterator.next()}") }
    // 5. extensions-injected native function callable from plain SQL
    val sh = spark.sql("SELECT graft_simhash(array('alpha','beta','gamma')) AS h").head().getLong(0)
    println(s"PROBE graft_simhash via SQL = $sh (nonzero=${sh != 0L})")
    spark.stop()
  }
}
