package graft

import org.apache.spark.sql.SparkSession

/** The one way to build a graft SparkSession — every main and the test
  * suites boot through [[Session.local]], the analog of the reference's
  * single `load_config → CDCPipeline` entry point (`src/main.py`).
  *
  * Shared settings:
  *  - `local[n]` with `n` = `SPARK_GRAFT_CPUS`, else every processor the
  *    JVM sees, and one shuffle partition per core;
  *  - UTC session time zone;
  *  - `spark.sql.legacy.parquet.nanosAsLong`, which [[Tables.events]]
  *    needs to read a TIMESTAMP(NANOS) `events.ts` as a long;
  *  - UI off and log level ERROR.
  *
  * AQE is left at the Spark default (on). A caller passes in `conf` only
  * a setting that really differs from these.
  */
object Session {

  private def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def local(cores: Int = cpus,
      conf: Map[String, String] = Map.empty): SparkSession = {
    val shared = Map(
      "spark.sql.shuffle.partitions" -> cores.toString,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.ui.enabled" -> "false")
    val spark = (shared ++ conf)
      .foldLeft(SparkSession.builder().master(s"local[$cores]")) {
        case (b, (k, v)) => b.config(k, v)
      }
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
