package perfbench

import org.apache.spark.sql.SparkSession

/** The benchmark's Spark session: the repo bench's settings, one local
  * executor thread per core, and `rgw-model` serving `file://`. Spark-local,
  * warehouse and temp directories come in as JVM properties, so that a run
  * writes only inside its own build directory. */
object Session {
  def start(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.file.impl", classOf[RgwModelFileSystem].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
