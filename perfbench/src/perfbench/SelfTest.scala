package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.sources.MergeWriter

/** The benchmark's own test: the generator is a pure function of the seed,
  * its items run through the pipeline, and a corrupted table fails the
  * result checks of `ingest` and `churn`.
  */
object SelfTest {
  def run(spark: SparkSession, work: File): Int = {
    var failures = 0
    def expect(cond: Boolean, what: String): Unit = {
      println(s"selftest: ${if (cond) "ok  " else "FAIL"} $what")
      if (!cond) failures += 1
    }
    val knobs = Knobs(preloadItems = 300, churnItems = 300, dropItems = 40, mergeKeys = 20)

    def drops(seed: Long): Seq[Seq[Byte]] = {
      val g = new Gen(seed, knobs)
      g.preload(knobs.preloadItems).toSeq +: Seq.fill(3)(g.nextDrop()._1.toSeq)
    }
    expect(drops(7) == drops(7), "same seed gives byte-identical preload and drops")
    expect(drops(7) != drops(8), "a different seed gives different drops")

    val ctx = new Ctx(spark, new Tracer(spark), knobs, 7L, work)
    val g = new Gen(7L, knobs)
    val path = ctx.dir("selftest/items.jsonl")
    ctx.writeFile(path, g.preload(knobs.preloadItems))
    val raw = Facts.parse(spark, path)
    val d = Facts.derive(raw)
    expect(raw.filter(col("key").isNull || col("changelog.histories").isNull).count() == 0,
      "generated items parse under RawItemsFixture.schema")
    expect(d.revisions.count() > knobs.preloadItems && d.snapshots.count() > 0 &&
      d.states.count() == knobs.preloadItems,
      "generated items yield revisions, snapshots and one state per item")
    val long = g.items.count(_.historyCount >= knobs.longMin)
    println(s"selftest: $long of ${g.items.size} items carry ${knobs.longMin}+ revisions")

    // ingest: clean tables pass, one altered state row fails
    val ingest = new Ingest(ctx)
    ingest.setup()
    ingest.cycle(0)
    ingest.finish()
    expect(ctx.failed == 0, s"ingest check passes on clean tables ${ctx.errors.mkString("; ")}")
    val states = ctx.dir("ingest/states")
    val victim = MergeWriter.readTable(spark, states).limit(1)
      .withColumn("title", lit("corrupted"))
    MergeWriter.merge(spark, states, victim, Facts.StateKeys, knobs.buckets)
    val before = ctx.failed
    ingest.finish()
    expect(ctx.failed > before, "ingest check fails on a corrupted states table")

    // churn: clean table passes, an update the model never saw fails
    val cctx = new Ctx(spark, new Tracer(spark), knobs, 7L, work)
    val churn = new Churn(cctx)
    churn.setup()
    churn.cycle(0)
    churn.finish()
    expect(cctx.failed == 0, s"churn checks pass on a clean table ${cctx.errors.mkString("; ")}")
    spark.sql("UPDATE pbchurn.bench.items SET storyPoints = storyPoints + 100 " +
      "WHERE workItemId = 'C-1'")
    val cBefore = cctx.failed
    churn.finish()
    expect(cctx.failed > cBefore, "churn check fails on a corrupted table")

    println(s"selftest: ${if (failures == 0) "PASS" else s"$failures FAILED"}")
    if (failures == 0) 0 else 1
  }
}
