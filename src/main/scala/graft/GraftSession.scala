package graft

import org.apache.spark.sql.SparkSession

/** The one session recipe every runnable main builds from (`Bench`'s
  * children, `RunOne`, `Verify`, `Smoke`, `ScaleData`, `jobs.Main`):
  *
  *  - master `SPARK_GRAFT_MASTER` when set (a deployment setting),
  *    `local[cpus]` otherwise;
  *  - shuffle partitions = [[cpus]];
  *  - UTC session time zone;
  *  - `spark.sql.legacy.parquet.nanosAsLong` (the events fixture stores
  *    `ts` as parquet TIMESTAMP(NANOS), which Spark 4 refuses without it);
  *  - no UI; WARN log level.
  */
object GraftSession {

  /** `SPARK_GRAFT_CPUS`, or every processor the JVM sees when unset. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def apply(appName: String = "graft"): SparkSession = {
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]"))
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
