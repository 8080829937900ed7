package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Corpus table loaders (schema-on-read from parquet footers).
  *
  * Mirrors the reference's read surface — `CephRgwFileSystem.open` /
  * `listStatus` / `getFileStatus` (`/root/reference/src/main/java/org/apache/
  * hadoop/fs/cephrgw/CephRgwFileSystem.java:191-200,374-386,432-439`) — through
  * Spark's `FileSourceScanExec`, which issues the same FileSystem calls per
  * split. Filters and projections applied downstream push into these scans
  * (PushedFilters / ReadSchema), so loaders stay bare `spark.read.parquet`.
  */
object Tables {
  /** Footer-inferred schema per (dir, table), cached for the JVM (r14 —
    * guide §6 metadata cost): every bare `spark.read.parquet` runs a
    * schema-inference job against the footers before the real scan; across
    * a 357-query bench that is hundreds of redundant footer jobs. METADATA
    * only — the cache holds a StructType, never rows; every query still
    * reads its data in full (the production analogue is a metastore
    * schema, which Spark also trusts without re-sniffing footers).
    * The key carries no length or mtime: this relies on corpus files never
    * changing while the JVM runs (a per-load stat would cost every read).
    */
  private val schemaCache = scala.collection.concurrent.TrieMap
    .empty[(String, String), org.apache.spark.sql.types.StructType]

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val sch = schemaCache.getOrElseUpdate((dir, name),
      spark.read.parquet(path).schema)
    spark.read.schema(sch).parquet(path)
  }

  /** events.ts has shipped as two different parquet encodings across corpus
    * generations: TIMESTAMP(NANOS) (which Spark's vectorized reader rejects —
    * read as a nanosecond long via nanosAsLong and truncate to µs) and plain
    * TIMESTAMP(MICROS) without UTC adjustment (which Spark reads as
    * TIMESTAMP_NTZ). Normalize both to Spark's native microsecond
    * TimestampType by inspecting the footer schema, so every downstream
    * operator sees one stable type. DuckDB's `CAST(ts AS TIMESTAMP)` is the
    * oracle twin for both encodings (ns→µs truncation / NTZ identity), and
    * the session timezone is pinned UTC so the NTZ→LTZ cast is wall-clock
    * preserving.
    */
  private def eventsRaw(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = table(spark, dir, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampType => df
      case _ => df.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
    }
  }

  def lineitem(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "region")
  def events(spark: SparkSession, dir: String): DataFrame = eventsRaw(spark, dir)
  def documents(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")
}
