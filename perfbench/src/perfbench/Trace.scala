package perfbench

import java.io.PrintWriter
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLongArray

import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory spans and counters for the traced run, written out at the end.
  *
  * Every span carries the sequence number of the query in flight (`seq`);
  * Spark jobs and stages find theirs through the local property [[SeqKey]]
  * set on the query thread, so jobs started from helper threads are
  * attributed too. Timestamps are nanoseconds on one clock, [[now]].
  */
object Trace {
  @volatile var enabled = false
  /** Sequence number of the query in flight, -1 between queries. */
  @volatile var seq: Int = -1
  @volatile var driverThread: Thread = _

  val SeqKey = "perfbench.seq"
  /** Name of the benchmark's own timed action; its listener event is not a command. */
  val ActionName = "perfbench.digest"

  private val nanoBase = System.nanoTime()
  private val epochBaseNs = System.currentTimeMillis() * 1000000L
  def now(): Long = System.nanoTime() - nanoBase
  /** Listener events carry epoch milliseconds; map them onto [[now]]'s clock. */
  def fromEpochMs(ms: Long): Long = ms * 1000000L - epochBaseNs

  final case class Span(kind: String, name: String, seq: Int, start: Long, end: Long,
      driver: Boolean, found: Boolean)
  private val spans = new ConcurrentLinkedQueue[Span]()

  def span(kind: String, name: String, seq: Int, start: Long, end: Long): Unit =
    spans.add(Span(kind, name, seq, start, end, driver = true, found = true))

  def fsCall(op: RgwModelFileSystem.Op.Value, t0: Long, t1: Long, found: Boolean): Unit =
    spans.add(Span("fs", op.toString.toLowerCase, seq, t0 - nanoBase, t1 - nanoBase,
      Thread.currentThread() eq driverThread, found))

  // Per query: read calls, read ns, read bytes, write calls, write ns, write bytes.
  private val streams = new ConcurrentHashMap[Int, AtomicLongArray]()
  def fsStream(op: RgwModelFileSystem.Op.Value, ns: Long, bytes: Long): Unit = {
    val a = streams.computeIfAbsent(seq, _ => new AtomicLongArray(6))
    val o = if (op == RgwModelFileSystem.Op.Read) 0 else 3
    a.incrementAndGet(o); a.addAndGet(o + 1, ns); a.addAndGet(o + 2, bytes)
  }

  // Per query: stages, tasks, failed tasks, run ms, cpu ns, gc ms, shuffle write bytes, spill bytes.
  private val exec = new ConcurrentHashMap[Int, AtomicLongArray]()
  private val stageSeq = new ConcurrentHashMap[Int, Int]()
  private val jobStart = new ConcurrentHashMap[Int, (Int, Long)]()
  private def execOf(s: Int) = exec.computeIfAbsent(s, _ => new AtomicLongArray(8))
  private def seqOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty(SeqKey))).map(_.toInt).getOrElse(-1)

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobStart.put(e.jobId, (seqOf(e.properties), fromEpochMs(e.time)))
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach { case (s, t0) =>
        span("job", e.jobId.toString, s, t0, fromEpochMs(e.time))
      }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val s = seqOf(e.properties)
      stageSeq.put(e.stageInfo.stageId, s)
      execOf(s).incrementAndGet(0)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val a = execOf(stageSeq.getOrDefault(e.stageId, -1))
      a.incrementAndGet(1)
      if (e.reason != Success) a.incrementAndGet(2)
      Option(e.taskMetrics).foreach { m =>
        a.addAndGet(3, m.executorRunTime)
        a.addAndGet(4, m.executorCpuTime)
        a.addAndGet(5, m.jvmGCTime)
        a.addAndGet(6, m.shuffleWriteMetrics.bytesWritten)
        a.addAndGet(7, m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }

  /** Dataset actions also reach the listener; they are not statements. */
  private val Actions = Set("collect", "count", "head", "take", "tail", "isEmpty", "foreach",
    "foreachPartition", "localCheckpoint", "checkpoint", "toLocalIterator", "reduce", ActionName)

  /** Eager statements (DDL, DML, CALL, writes) run while a frame is built.
    * The listener reports a duration only; the span ends when it is heard. */
  val commandListener: QueryExecutionListener = new QueryExecutionListener {
    private def record(funcName: String, qe: QueryExecution, ns: Long): Unit =
      if (!Actions(funcName)) {
        val end = now()
        span("command", s"$funcName:${qe.logical.nodeName}", seq, end - ns, end)
      }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(funcName, qe, durationNs)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(funcName, qe, 0L)
  }

  def write(dir: String): Unit = {
    val sp = new PrintWriter(s"$dir/spans.tsv")
    try spans.asScala.foreach { s =>
      sp.println(Seq(s.kind, s.name, s.seq, s.start, s.end, if (s.driver) 1 else 0,
        if (s.found) 1 else 0).mkString("\t"))
    } finally sp.close()
    def dump(file: String, m: ConcurrentHashMap[Int, AtomicLongArray]): Unit = {
      val w = new PrintWriter(s"$dir/$file")
      try m.asScala.foreach { case (s, a) =>
        w.println((s +: (0 until a.length).map(a.get)).mkString("\t"))
      } finally w.close()
    }
    dump("exec.tsv", exec)
    dump("streams.tsv", streams)
  }
}
