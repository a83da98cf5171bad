package graft.api

import org.apache.spark.sql.SparkSession

/** Opinionated session builder for Graft jobs.
  *
  * Centralizes the settings every Graft deployment needs (SURVEY §5):
  * AQE with skew-join handling, sized shuffle partitions, UTC session
  * time, the nanos-parquet compatibility flag, Spark 4's TIME type, and
  * Graft's SQL function surface (zeta compat layer + native expressions)
  * pre-registered, and decimal arithmetic on long kernels
  * (`plans.DecimalKernels`). Library operators write none of these: the session
  * policy lives here alone.
  */
object GraftSession {

  /** Build a session. `shufflePartitions` should approximate
    * input-size / 128MB at deployment scale; local test default fits the
    * sandbox (local[32], sf<=0.1).
    */
  def create(
      master: String = "local[32]",
      appName: String = "graft",
      shufflePartitions: Int = 32,
      extra: Map[String, String] = Map.empty): SparkSession = {
    var b = SparkSession.builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.datetime.java8API.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // TIME ships behind a flag in Spark 4; zeta SQL, FakeSource and
      // LocalFile schemas may declare it
      .config("spark.sql.timeType.enabled", "true")
      .config("spark.ui.enabled", "false")
    extra.foreach { case (k, v) => b = b.config(k, v) }
    val spark = b.getOrCreate()
    graft.functions.ZetaFunctions.register(spark)
    graft.plans.NativeExpressions.register(spark)
    graft.plans.DecimalKernels.install(spark)
    spark
  }
}
