package graft

import org.apache.spark.sql.SparkSession

/** Session factory for the engine.
  *
  * The reference opens a psycopg2 connection per task
  * (`/root/reference/src/airflow_postgres_csv/operators.py:69,74`); the Spark-native
  * analog is one configured `SparkSession`. Defaults are chosen for correctness
  * parity (UTC, ANSI-ish) and local benchmarking (shuffle partitions sized to
  * cores, AQE on — on a real cluster AQE coalesces/replans at runtime, so these
  * settings scale from local[32] to 1000 executors without code change).
  */
object GraftSession {
  def local(cores: Int = Runtime.getRuntime.availableProcessors(),
            appName: String = "graft"): SparkSession =
    configure(SparkSession.builder().master(s"local[$cores]"), cores, appName)
      .getOrCreate()

  /** Apply engine defaults to any builder (local or cluster). */
  def configure(b: SparkSession.Builder, shufflePartitions: Int,
                appName: String): SparkSession.Builder =
    b.appName(appName)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.ui.enabled", "false")
      // events.parquet carries TIMESTAMP(NANOS); Spark's reader has no nanos
      // type — read as Long then convert (see Tables.table).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
}
