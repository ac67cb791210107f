package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.sources.MergeWriter

/** `file:` filesystem that counts namespace operations. Installed (through
  * `spark.hadoop.fs.file.impl`) only in traced runs.
  */
class CountingLocalFs extends LocalFileSystem {
  import CountingLocalFs._
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    opens.incrementAndGet(); super.open(f, bufferSize)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    creates.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    renames.incrementAndGet(); super.rename(src, dst)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    deletes.incrementAndGet(); super.delete(f, recursive)
  }
  override def listStatus(f: Path): Array[org.apache.hadoop.fs.FileStatus] = {
    lists.incrementAndGet(); super.listStatus(f)
  }
}

object CountingLocalFs {
  val opens, creates, renames, deletes, lists = new AtomicLong
}

/** Commit primitive that counts lost publish races (each one is a commit
  * retry), delegating to the engine's default.
  */
object CountingCommit extends MergeWriter.CommitPrimitive {
  val lost = new AtomicLong
  override def putIfAbsent(fs: FileSystem, target: Path, stage: Path,
                           body: Array[Byte]): Boolean = {
    val ok = MergeWriter.LinkOrRenameCommit.putIfAbsent(fs, target, stage, body)
    if (!ok) lost.incrementAndGet()
    ok
  }
}

/** One traced interval: a layer call inside an op, or the op itself (root,
  * `parent` = -1). Times are epoch milliseconds (Spark's event clock) plus
  * nanos for durations.
  */
final class Span(val id: Int, val layer: String, val call: String, val parent: Int,
                 val op: Int, val opKind: String, val sql: Boolean,
                 val t0Ms: Long, val t0Ns: Long) {
  var t1Ms: Long = 0L
  var t1Ns: Long = 0L
  val counts: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  def ms: Double = (t1Ns - t0Ns) / 1e6
  def add(k: String, v: Double): Unit = counts(k) = counts.getOrElse(k, 0.0) + v
}

/** Per-task totals of one span's Spark work. */
final class SparkWork {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var taskMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var recordsRead = 0L
  val jobIntervals: ArrayBuffer[(Long, Long)] = ArrayBuffer.empty
  val stageTaskMs: mutable.Map[Int, ArrayBuffer[Long]] = mutable.Map.empty
}

/** Spans around each call into a layer, and the counts Spark, Hadoop and
  * the JVM attribute to them. Jobs find their span through a local
  * property set on the calling thread (inherited by any thread the engine
  * forks); query executions are matched to spans by time, which is exact
  * because one client thread runs ops one at a time.
  */
final class Tracer(spark: SparkSession) {
  private val SpanProp = "perfbench.span"
  private val SentinelProp = "perfbench.sentinel"
  @volatile var enabled = false

  val spans: ArrayBuffer[Span] = ArrayBuffer.empty
  private var stack: List[Span] = Nil
  private var opSeq = 0

  private val jobSpan = new ConcurrentHashMap[Int, Int]()
  private val jobStart = new ConcurrentHashMap[Int, Long]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val work = new ConcurrentHashMap[Int, SparkWork]()
  private val qes = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Map[String, Long], Long)]()
  @volatile private var sentinel: CountDownLatch = new CountDownLatch(0)

  private def w(span: Int): SparkWork = work.computeIfAbsent(span, _ => new SparkWork)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val sid = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
      sid.foreach { s =>
        val id = s.toInt
        jobSpan.put(e.jobId, id)
        jobStart.put(e.jobId, e.time)
        e.stageIds.foreach(st => stageSpan.put(st, id))
        val sw = w(id)
        sw.synchronized(sw.jobs += 1)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      Option(jobSpan.get(e.jobId)).foreach { id =>
        val sw = w(id)
        sw.synchronized(sw.jobIntervals += ((jobStart.get(e.jobId), e.time)))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageSpan.get(e.stageInfo.stageId)).foreach { id =>
        val sw = w(id)
        sw.synchronized(sw.stages += 1)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).foreach { id =>
        val m = e.taskMetrics
        val sw = w(id)
        sw.synchronized {
          sw.tasks += 1
          if (m != null) {
            sw.taskMs += m.executorRunTime
            sw.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
            sw.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
            sw.recordsRead += m.inputMetrics.recordsRead
            sw.stageTaskMs.getOrElseUpdate(e.stageId, ArrayBuffer.empty) += m.executorRunTime
          }
        }
      }
  }

  @volatile private var sentinelJob = -1
  private val sentinelListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (Option(e.properties).exists(_.getProperty(SentinelProp) != null)) sentinelJob = e.jobId
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (e.jobId == sentinelJob) sentinel.countDown()
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe, durationNs)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe, 0L)
    private def record(qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      if (phases.nonEmpty) {
        val first = phases.values.map(_.startTimeMs).min
        qes.add((first, phases.map { case (k, v) => k -> v.durationMs }, durationNs))
      }
    }
  }

  /** Register the listeners (traced runs only). */
  def install(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    MergeWriter.setCommitPrimitive(CountingCommit)
  }

  // ---- process-wide counters sampled at span boundaries ----

  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val jit = ManagementFactory.getCompilationMXBean

  private def sample(): Array[Double] = Array(
    CountingLocalFs.opens.get.toDouble, CountingLocalFs.creates.get.toDouble,
    CountingLocalFs.renames.get.toDouble, CountingLocalFs.deletes.get.toDouble,
    CountingLocalFs.lists.get.toDouble, Trace.bytesWritten.toDouble,
    CountingCommit.lost.get.toDouble,
    gcBeans.map(_.getCollectionTime).sum.toDouble,
    jit.getTotalCompilationTime.toDouble,
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble)
  private val SampleNames = Seq("fs_opens", "fs_creates", "fs_renames", "fs_deletes",
    "fs_lists", "bytes_written", "commit_retries", "gc_ms", "jit_ms", "codegen_compiles")

  /** Run one op as a root span when tracing is enabled. */
  def op[T](kind: String)(body: => T): T = {
    opSeq += 1
    withSpan("op", kind, sql = false, kind)(body)
  }

  /** Run one call into `layer` as a child span of the current op. */
  def span[T](layer: String, call: String, sql: Boolean = false)(body: => T): T =
    withSpan(layer, call, sql, stack.headOption.map(_.opKind).getOrElse(""))(body)

  private def withSpan[T](layer: String, call: String, sql: Boolean, kind: String)(body: => T): T =
    if (!enabled) body
    else {
      val sc = spark.sparkContext
      val parent = stack.headOption
      val s = new Span(spans.size, layer, call, parent.map(_.id).getOrElse(-1), opSeq, kind,
        sql, System.currentTimeMillis(), System.nanoTime())
      spans += s
      stack = s :: stack
      val before = sample()
      sc.setLocalProperty(SpanProp, s.id.toString)
      try body
      finally {
        s.t1Ns = System.nanoTime()
        s.t1Ms = System.currentTimeMillis()
        val after = sample()
        SampleNames.indices.foreach(i => s.add(SampleNames(i), after(i) - before(i)))
        stack = stack.tail
        sc.setLocalProperty(SpanProp, parent.map(_.id.toString).orNull)
      }
    }

  private val afterOp = ArrayBuffer.empty[() => Unit]

  /** Measure something about the current span once its op has been timed
    * (traced ops only), e.g. the table's live file count after a write.
    */
  def afterOpNote(k: String)(v: => Double): Unit =
    current.filter(_ => enabled).foreach(s => afterOp += (() => s.add(k, v)))

  def runAfterOp(): Unit = { afterOp.foreach(_()); afterOp.clear() }
  def current: Option[Span] = stack.headOption
  /** Root span of the op just run, if it was traced. */
  def lastOp: Option[Span] =
    if (!enabled) None else spans.reverseIterator.find(_.parent == -1)

  /** Wait until the listener bus has delivered every event of jobs run so
    * far: events are delivered in order, so the end of a marker job means
    * everything before it has arrived.
    */
  def drain(): Unit = {
    val sc = spark.sparkContext
    sentinel = new CountDownLatch(1)
    sc.addSparkListener(sentinelListener)
    sc.setLocalProperty(SentinelProp, "1")
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(SentinelProp, null)
    sentinel.await(30, TimeUnit.SECONDS)
    sc.removeSparkListener(sentinelListener)
    Thread.sleep(200) // query-execution callbacks trail their SQL end event
  }

  def workOf(spanId: Int): SparkWork = Option(work.get(spanId)).getOrElse(new SparkWork)

  /** Query executions (planning phases, exec ns) by the span they started in. */
  def qesBySpan(): Map[Int, Seq[(Map[String, Long], Long)]] = {
    val all = qes.asScala.toSeq
    all.flatMap { case (t, phases, ns) =>
      // innermost traced span whose interval holds the first phase start
      spans.filter(s => s.t0Ms <= t && t <= s.t1Ms).lastOption.map(s => s.id -> (phases, ns))
    }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
  }
}

object Trace {
  /** Bytes written through Hadoop `file:` filesystems so far (all threads). */
  def bytesWritten: Long =
    FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file").map(_.getBytesWritten).sum

  /** In-memory size of a persisted, materialized frame. */
  def cachedBytes(df: org.apache.spark.sql.DataFrame): Double =
    df.queryExecution.optimizedPlan.stats.sizeInBytes.toDouble
}
