package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.operators.{RevisionPipeline, Watermarks}
import graft.sources.{MergeWriter, RawItemsFixture}

/** The two fact tables the loader maintains, and how to derive them. */
object Facts {
  val StateKeys: Seq[String] = Seq("workItemId")
  val SnapshotKeys: Seq[String] = Seq("workItemId", "type", "revision", "flomatikaSnapshotDate")

  /** Parse a raw JSONL drop with the declared raw-item schema. */
  def parse(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(RawItemsFixture.schema).json(path)

  final case class Derived(revisions: DataFrame, eventDates: DataFrame,
                           snapshots: DataFrame, states: DataFrame)

  /** The pipeline; `pin` wraps each stage's output (traced ops persist). */
  def derive(raw: DataFrame, pin: DataFrame => DataFrame = identity): Derived = {
    val revs = pin(RevisionPipeline.explodeChangelog(raw))
    val dates = pin(RevisionPipeline.eventDatesFor(revs, Flow.Workflows,
      Flow.Workflow.workflowId).toDF())
    Derived(revs, dates, pin(RevisionPipeline.snapshots(revs, dates, Flow.Workflow)),
      pin(RevisionPipeline.states(raw, dates, Flow.Org, Flow.Datasource, Flow.TypeMaps,
        Some(Flow.Workflow))))
  }
}

/** `ingest`: the incremental state-extract loop. Each timed op takes one raw
  * JSONL drop from file to both tables committed and the watermark
  * advanced.
  */
final class Ingest(ctx: Ctx) extends Workload {
  import ctx.{knobs, spark, tracer}

  private var gen: Gen = _
  private var root: String = _
  private def statesPath = s"$root/states"
  private def snapsPath = s"$root/snapshots"
  private def marksPath = s"$root/watermarks"

  /** The preload's pipeline output, kept in memory: the expected rows of
    * every item no drop touches.
    */
  private var preloaded: Facts.Derived = _
  private val touched = scala.collection.mutable.LinkedHashSet.empty[Int]

  def setup(): Unit = {
    root = ctx.dir("ingest")
    gen = new Gen(ctx.seed, knobs)
    val pre = s"$root/raw/preload.jsonl"
    ctx.writeFile(pre, gen.preload(knobs.preloadItems))
    val raw = Facts.parse(spark, pre).persist(StorageLevel.MEMORY_AND_DISK)
    preloaded = Facts.derive(raw, _.persist(StorageLevel.MEMORY_AND_DISK))
    MergeWriter.merge(spark, snapsPath, preloaded.snapshots, Facts.SnapshotKeys, knobs.buckets)
    MergeWriter.merge(spark, statesPath, preloaded.states, Facts.StateKeys, knobs.buckets)
    advance(raw)
    raw.unpersist()
    preloaded.revisions.unpersist()
    preloaded.eventDates.unpersist()
  }

  def cycle(i: Int): Unit = runDrop()

  private def advance(raw: DataFrame): Unit =
    Watermarks.advance(spark, marksPath, raw, col("fields.project.id"),
      to_timestamp(col("fields.updated")))

  private def runDrop(): Unit = {
    val (bytes, items) = gen.nextDrop()
    touched ++= items.map(_.num)
    val path = s"$root/raw/drop-${System.nanoTime()}.jsonl"
    ctx.writeFile(path, bytes)
    val w0 = Trace.bytesWritten
    if (ctx.timed("write", items.size.toLong)(process(path, bytes.length, items.size))) {
      ctx.writeBytes += Trace.bytesWritten - w0
      ctx.writeInputBytes += bytes.length
    }
    new File(path).delete()
  }

  /** Parse → explode → event dates → snapshots + states → two merges →
    * watermark. In traced ops every stage's output is persisted and
    * counted inside its own span, so pipeline time splits from the merge.
    */
  private def process(path: String, inputBytes: Long, items: Int): Unit = {
    val traced = tracer.enabled
    val pinned = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def pin(df: DataFrame): DataFrame =
      if (!traced) df
      else { val p = df.persist(StorageLevel.MEMORY_AND_DISK); pinned += p; p }
    try {
      val raw = tracer.span("RawItems", "read") {
        val r = pin(Facts.parse(spark, path))
        if (traced) {
          val n = r.count()
          tracer.current.foreach { s => s.add("input_bytes", inputBytes); s.add("records", n) }
        }
        r
      }
      val d = tracer.span("RevisionPipeline", "derive") {
        val out = Facts.derive(raw, pin)
        if (traced) {
          val nRev = out.revisions.count()
          out.snapshots.count(); out.states.count()
          tracer.current.foreach { s => s.add("revisions", nRev); s.add("items", items) }
        }
        out
      }
      write("snapshots", snapsPath, d.snapshots, Facts.SnapshotKeys)
      write("states", statesPath, d.states, Facts.StateKeys)
      tracer.span("Watermarks", "advance")(advance(raw))
    } finally pinned.foreach(_.unpersist())
  }

  private def write(table: String, path: String, df: DataFrame, keys: Seq[String]): Unit =
    tracer.span("MergeWriter", s"merge.$table") {
      if (tracer.enabled) tracer.current.foreach(_.add("input_row_bytes", Trace.cachedBytes(df)))
      MergeWriter.merge(spark, path, df, keys, knobs.buckets)
      tracer.afterOpNote("files_live")(MergeWriter.tableFiles(spark, path).count().toDouble)
    }

  def finish(): (Long, Long) = {
    // expected rows: the preload's pipeline output for items no drop
    // touched, plus the pipeline over the touched items' latest documents;
    // fingerprints add, so the two parts never need a union
    val latest = s"$root/raw/latest.jsonl"
    ctx.writeFile(latest, gen.jsonl(touched.toSeq.map(gen.items)))
    val fresh = Facts.derive(Facts.parse(spark, latest))
    val ids = touched.toSeq.map(gen.items(_).key)
    def untouched(df: DataFrame) = df.filter(!col("workItemId").isin(ids: _*))
    for ((name, path, kept, redone) <- Seq(
           ("states", statesPath, preloaded.states, fresh.states),
           ("snapshots", snapsPath, preloaded.snapshots, fresh.snapshots))) {
      val got = Frames.fingerprint(MergeWriter.readTable(spark, path), kept)
      val a = Frames.fingerprint(untouched(kept), kept)
      val b = Frames.fingerprint(redone, kept)
      val wanted = (a._1 + b._1, a._2 + b._2, a._3 + b._3)
      ctx.check(got == wanted,
        s"ingest: final $name table $got != pipeline over latest documents $wanted")
    }
    // watermark per project = latest update of any item ever loaded
    val marks = Watermarks.currentMarks(spark, marksPath).collect()
      .map(r => r.getString(0) -> r.getTimestamp(1).getTime / 1000).toMap
    val expected = gen.items.groupBy(_.project).map { case (p, its) => p -> its.map(_.lastTime).max }
    ctx.check(marks == expected, s"ingest: watermarks $marks != expected $expected")
    val live = Frames.plainBytes(MergeWriter.readTable(spark, statesPath), s"$root/plain-states") +
      Frames.plainBytes(MergeWriter.readTable(spark, snapsPath), s"$root/plain-snapshots")
    (Frames.dirBytes(statesPath) + Frames.dirBytes(snapsPath), live)
  }
}
