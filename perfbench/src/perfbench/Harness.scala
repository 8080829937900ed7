package perfbench

import java.io.PrintWriter
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, XXH64}
import org.apache.spark.sql.execution.SQLExecution

/** The benchmark's JVM side: one closed-loop client over `graft.SparkEntry`.
  *
  * Arguments are `key=value` pairs, all required:
  *  - `sf`: corpus directory; `out`: directory for the result files;
  *  - `warmup`, `order`: files listing query names, one a line. The warm-up
  *    list runs untimed during set-up; the order list is the timed sequence,
  *    cut when `seconds` have passed (the query in flight completes) or at its end;
  *  - `prewarm`: 1 to build the serving indexes during set-up;
  *  - `trace`: 1 to record spans and counters (see [[Trace]]);
  *  - `cpus`: local executor threads;
  *  - `dump` (optional): directory to also write each result to as parquet;
  *  - `workloads`: file of `query<TAB>workload` lines, which must name every
  *    query of `SparkEntry.queries` exactly once.
  *
  * Each query is built (`fn(spark, sf)`), planned (`executedPlan` forced) and
  * then run by an action that reads every column of every output row into an
  * order-independent digest: row count plus the 64-bit sum of each row's
  * XXH64. Unlike `count()`, that action keeps every projected column and the
  * final sort in the executed plan.
  */
object Harness {
  final case class Record(seq: Int, name: String, phase: String, start: Long, built: Long,
      planned: Long, end: Long, digest: String, error: String)

  def main(args: Array[String]): Unit = {
    val opt = args.map(_.split("=", 2)).collect { case Array(k, v) => k -> v }.toMap
    if (opt.contains("list")) {
      // name and DuckDB oracle SQL, newlines and tabs escaped
      Files.write(Paths.get(opt("list")), graft.SparkEntry.allQueries.map { q =>
        val oracle = q.oracle.getOrElse("").replace("\\", "\\\\").replace("\n", "\\n")
          .replace("\t", "\\t")
        s"${q.name}\t$oracle"
      }.sorted.asJava)
      return
    }
    val sf = opt("sf")
    val out = opt("out")
    val seconds = opt("seconds").toDouble
    Trace.enabled = opt("trace") == "1"
    Trace.driverThread = Thread.currentThread()
    def names(key: String): Seq[String] =
      Files.readAllLines(Paths.get(opt(key))).asScala.map(_.trim).filter(_.nonEmpty).toSeq
    val warmup = names("warmup")
    val order = names("order")
    val queries = graft.SparkEntry.queries
    checkWorkloads(names("workloads").map(_.split("\t")(0)), queries.keySet)
    val unknown = (warmup ++ order).distinct.filterNot(queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")

    val spark = Session.start(opt("cpus").toInt)
    val conf = spark.sparkContext.hadoopConfiguration
    val fsClass = FileSystem.get(new java.net.URI("file:///"), conf).getClass
    require(fsClass == classOf[RgwModelFileSystem],
      s"file:/// resolves to ${fsClass.getName}, not the rgw-model file system")
    if (Trace.enabled) {
      spark.sparkContext.addSparkListener(Trace.sparkListener)
      spark.listenerManager.register(Trace.commandListener)
    }
    val tSession = Trace.now()
    if (opt("prewarm") == "1") graft.operators.Connectors.prewarmServingIndexes(spark, sf)
    val tPrewarm = Trace.now()

    val records = scala.collection.mutable.ArrayBuffer.empty[Record]
    var seq = 0
    def run(name: String, phase: String): Record = {
      val fn = queries(name)
      Trace.seq = seq
      spark.sparkContext.setLocalProperty(Trace.SeqKey, seq.toString)
      val t0 = Trace.now()
      var built, planned = -1L
      val (digest, error) =
        try {
          val df = fn(spark, sf)
          built = Trace.now()
          df.queryExecution.executedPlan
          planned = Trace.now()
          val d = digestOf(df)
          opt.get("dump").foreach(dir => df.write.mode("overwrite").parquet(s"$dir/$name"))
          (d, "")
        } catch {
          case e: Throwable =>
            val msg = Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString
            ("", s"${e.getClass.getSimpleName}: $msg".take(300).replace('\t', ' '))
        }
      val end = Trace.now()
      if (built < 0) built = end
      if (planned < 0) planned = end
      val r = Record(seq, name, phase, t0, built, planned, end, digest, error)
      System.err.println(f"[perfbench] $phase%-6s $seq%4d $name%-32s ${(end - t0) / 1e9}%7.3fs " +
        (if (error.isEmpty) digest else error))
      if (Trace.enabled) {
        Trace.span("query", name, seq, t0, end)
        Trace.span("build", name, seq, t0, built)
        Trace.span("plan", name, seq, built, planned)
        Trace.span("action", name, seq, planned, end)
        // Listener events arrive asynchronously: let this query's land
        // before the next query takes the sequence number.
        org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      }
      Trace.seq = -1
      spark.sparkContext.setLocalProperty(Trace.SeqKey, null)
      hygiene(spark)
      seq += 1
      records += r
      r
    }

    warmup.foreach(run(_, "warmup"))
    val tSetup = Trace.now()
    val it = order.iterator
    while (Trace.now() - tSetup < seconds * 1e9 && it.hasNext) run(it.next(), "timed")
    val tEnd = Trace.now()

    Files.createDirectories(Paths.get(out))
    val w = new PrintWriter(s"$out/queries.tsv")
    try records.foreach { r =>
      w.println(Seq(r.seq, r.name, r.phase, r.start, r.built, r.planned, r.end, r.digest, r.error)
        .mkString("\t"))
    } finally w.close()
    if (Trace.enabled) Trace.write(out)
    val s = new PrintWriter(s"$out/summary.tsv")
    try {
      val jvmStartNs = Trace.fromEpochMs(
        java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime)
      Seq("jvm_start" -> jvmStartNs, "session_end" -> tSession, "prewarm_end" -> tPrewarm,
        "setup_end" -> tSetup, "timed_end" -> tEnd, "peak_rss_kb" -> peakRssKb(),
        "fs_class" -> fsClass.getName).foreach { case (k, v) => s.println(s"$k\t$v") }
    } finally s.close()
    spark.stop()
  }

  /** Refuses to run unless every query is in exactly one workload. */
  def checkWorkloads(listed: Seq[String], queries: Set[String]): Unit = {
    val twice = listed.groupBy(identity).collect { case (q, xs) if xs.size > 1 => q }
    val missing = queries -- listed
    val unknown = listed.toSet -- queries
    require(twice.isEmpty && missing.isEmpty && unknown.isEmpty,
      s"workloads must list every query exactly once: listed twice ${twice.mkString(",")}; " +
        s"missing ${missing.mkString(",")}; unknown ${unknown.mkString(",")}")
  }

  /** Order-independent digest of every column of every row of `df`'s executed plan. */
  def digestOf(df: DataFrame): String = {
    val qe = df.queryExecution
    val schema = qe.executedPlan.schema
    val parts = SQLExecution.withNewExecutionId(qe, Some(Trace.ActionName)) {
      qe.toRdd.mapPartitions { rows =>
        val proj = UnsafeProjection.create(schema)
        var n, h = 0L
        while (rows.hasNext) {
          val u = proj(rows.next())
          h += XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 42L)
          n += 1
        }
        Iterator.single((n, h))
      }.collect()
    }
    f"${parts.map(_._1).sum}%d:${parts.map(_._2).sum}%016x"
  }

  /** Untimed-in-query cleanup between queries, as the repo's own bench does:
    * cached relations and persisted RDDs of one query must not slow the next. */
  private def hygiene(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }

  private def peakRssKb(): Long =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)
}
