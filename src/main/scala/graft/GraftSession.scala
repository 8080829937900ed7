package graft
import org.apache.spark.sql.SparkSession

/** The one session Bench, Verify and the tests share, so that what is
  * verified is what is timed. `cpus` sets the local executor threads and
  * the shuffle fan-out; every other setting is fixed. Checkpoint files
  * are cleaned once their RDDs are GC'd, so iterative graph queries don't
  * accrete them in tmp over a long run.
  */
object GraftSession {
  def apply(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
