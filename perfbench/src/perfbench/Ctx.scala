package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One timed operation. `traced` ops ran with spans on; end-to-end figures
  * use only the untraced ones.
  */
final case class OpRec(kind: String, ms: Double, traced: Boolean, items: Long, cycle: Int)

/** State shared by a run: the session, the tracer, the op log and the
  * correctness tally.
  */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val knobs: Knobs,
                val seed: Long, val work: File) {
  val ops: ArrayBuffer[OpRec] = ArrayBuffer.empty
  val errors: ArrayBuffer[String] = ArrayBuffer.empty
  var attempted = 0L
  var failed = 0L
  /** fs bytes written by timed write ops, and the bytes of their input */
  var writeBytes = 0L
  var writeInputBytes = 0L
  /** the closed loop's current cycle, recorded with each op */
  var cycle = 0

  /** Time one op. A thrown error counts as a failed op; checks that
    * follow it report their own failures through [[check]].
    */
  def timed(kind: String, items: Long)(body: => Unit): Boolean = {
    attempted += 1
    val t0 = System.nanoTime()
    val ok =
      try { tracer.op(kind)(body); true }
      catch {
        case e: Throwable =>
          failed += 1
          errors += s"$kind op failed: $e"
          System.err.println(s"perfbench: $kind op failed")
          e.printStackTrace()
          false
      }
    val ms = (System.nanoTime() - t0) / 1e6
    tracer.runAfterOp()
    if (ok) ops += OpRec(kind, ms, tracer.enabled, items, cycle)
    lastOk = ok
    ok
  }
  private var lastOk = false

  /** Set the item count of the op just timed, once its check knows it. */
  def setItems(n: Long): Unit =
    if (lastOk) ops(ops.size - 1) = ops.last.copy(items = n)

  /** A result check; a failure marks the op wrong (counted once per op). */
  def check(cond: Boolean, what: => String): Unit =
    if (!cond) {
      failed += 1
      errors += what
      System.err.println(s"perfbench: CHECK FAILED: $what")
    }

  def dir(name: String): String = new File(work, name).getAbsolutePath

  def writeFile(path: String, bytes: Array[Byte]): Unit = {
    Files.createDirectories(Paths.get(path).getParent)
    Files.write(Paths.get(path), bytes)
  }
}

object Frames {
  /** Materialize every row and column, as a consumer would. */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Order-independent fingerprint of a frame over the columns of `like`
    * (typed as there): row count plus two independent row-hash sums, each
    * hash reduced below 2^31 so the sums cannot overflow.
    */
  def fingerprint(df: DataFrame, like: DataFrame): (Long, Long, Long) = {
    val cols = like.columns.sorted
    val typed = cols.map(c => df.col(c).cast(like.schema(c).dataType).as(c))
    val all = cols.map(col).toIndexedSeq
    val r = df.select(typed.toIndexedSeq: _*).agg(
      count(lit(1)),
      coalesce(sum(pmod(xxhash64(all: _*), lit(2147483647L))), lit(0L)),
      coalesce(sum(hash(all: _*).cast("long") + 2147483648L), lit(0L))).head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** Bytes of every regular file under `path`. */
  def dirBytes(path: String): Long = {
    val f = new File(path)
    if (!f.exists) 0L
    else if (f.isFile) f.length
    else Option(f.listFiles).toSeq.flatten.map(c => dirBytes(c.getAbsolutePath)).sum
  }

  /** Bytes of the parquet part files under `path` (no checksums or markers). */
  def parquetBytes(path: String): Long = {
    val f = new File(path)
    Option(f.listFiles).toSeq.flatten.filter(_.getName.endsWith(".parquet")).map(_.length).sum
  }

  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(deleteRecursively)
    f.delete()
  }

  /** Live rows written once as plain parquet, in bytes — the denominator of
    * space amplification.
    */
  def plainBytes(df: DataFrame, scratch: String): Long = {
    df.write.mode("overwrite").parquet(scratch)
    val b = parquetBytes(scratch)
    deleteRecursively(new File(scratch))
    b
  }

  def between(c: Column, lo: Any, hi: Any): Column = c >= lit(lo) && c <= lit(hi)
}

/** A workload: repeated set-up, a timed cycle, and the final checks. */
trait Workload {
  /** Generation, preload and warm-up. */
  def setup(): Unit
  /** One closed-loop cycle of timed ops. */
  def cycle(i: Int): Unit
  /** Post-timing checks; returns (table bytes on disk, live plain bytes). */
  def finish(): (Long, Long)
}
