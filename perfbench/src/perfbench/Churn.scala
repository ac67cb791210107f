package perfbench

import java.time.LocalDate

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Insights
import graft.sources.{GraftCatalog, MergeWriter}

/** One row of the churn table: a work item's current state. */
final case class CRow(workItemId: String, workItemType: String, state: String,
                      assignedTo: String, changedDay: LocalDate,
                      commitmentDay: Option[LocalDate], departureDay: Option[LocalDate],
                      storyPoints: Int, revision: Int) {
  /** The row as JSON: the submitted bytes write amplification divides by. */
  def json: String =
    s"""{"workItemId":"$workItemId","workItemType":"$workItemType","state":"$state",""" +
      s""""assignedTo":"$assignedTo","changedDay":"$changedDay",""" +
      s""""commitmentDay":${commitmentDay.fold("null")(d => s""""$d"""")},""" +
      s""""departureDay":${departureDay.fold("null")(d => s""""$d"""")},""" +
      s""""storyPoints":$storyPoints,"revision":$revision}"""
}

/** `churn`: upserts and deletes beside dashboard reads on one catalog table
  * with deletion vectors. Each cycle is one SQL MERGE (and every
  * `deleteEvery`-th cycle one SQL DELETE), then a keyed point read through
  * the storage API, a lead-time aggregate over `format("graft")` (the V1
  * DV bridge) and the dashboard aggregates over SQL on the catalog (the
  * DSv2 DV-skip reader). A driver-side key → row model checks every read
  * and the final table.
  */
final class Churn(ctx: Ctx) extends Workload {
  import ctx.{knobs, spark, tracer}
  import spark.implicits._

  private var gen: Gen = _
  private var zipf: Zipf = _
  private var root: String = _
  private var table: String = _
  private val model = mutable.HashMap.empty[String, CRow]
  private def tablePath = s"$root/wh/bench/items"
  private def keySpace = knobs.churnItems + knobs.churnItems / 4

  private val States = Flow.Steps.map(_.name)

  private def row(key: String, revision: Int): CRow = {
    val changed = Flow.Epoch.toLocalDate.plusDays(gen.nextInt(Flow.TimelineDays).toLong)
    val commit = if (gen.nextInt(5) == 0) None
      else Some(changed.minusDays(gen.nextInt(60).toLong))
    val depart = commit.filter(_ => gen.nextInt(5) < 3)
      .map(_.plusDays(1L + gen.nextInt(45)))
    CRow(key, Flow.Types(gen.nextInt(Flow.Types.size)), States(gen.nextInt(States.size)),
      "user-" + gen.nextInt(12), changed, commit, depart, 1 + gen.nextInt(13), revision)
  }

  /** `spark.sql`, recording the statement's parse time in a traced span
    * (the parse phase lives on the statement's own planning tracker).
    */
  private def sql(text: String): DataFrame = {
    val df = spark.sql(text)
    tracer.current.filter(_ => tracer.enabled).foreach(_.add("parse_ms",
      df.queryExecution.tracker.phases.get("parsing").map(_.durationMs.toDouble).getOrElse(0.0)))
    df
  }

  private def source(rows: Seq[CRow]): Unit =
    rows.toDS().toDF().createOrReplaceTempView("pb_src")

  def setup(): Unit = {
    root = ctx.dir("churn")
    gen = new Gen(ctx.seed, knobs)
    val catalog = "pbchurn"
    spark.conf.set(s"spark.sql.catalog.$catalog", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$catalog.warehouse", s"$root/wh")
    table = s"$catalog.bench.items"
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $catalog.bench")
    spark.sql(s"CREATE TABLE $table (workItemId STRING, workItemType STRING, state STRING, " +
      "assignedTo STRING, changedDay DATE, commitmentDay DATE, departureDay DATE, " +
      "storyPoints INT, revision INT) " +
      s"TBLPROPERTIES ('keys'='workItemId', 'deleteVectors'='true', 'buckets'='${knobs.buckets}')")
    val pre = (0 until knobs.churnItems).map(i => row("C-" + i, 1))
    pre.foreach(r => model(r.workItemId) = r)
    source(pre)
    spark.sql(s"INSERT INTO $table SELECT * FROM pb_src")
    zipf = new Zipf(keySpace, knobs.zipfS, gen.split())
  }

  def cycle(i: Int): Unit = {
    merge()
    if (i % knobs.deleteEvery == 0) delete()
    point()
    scan()
    agg()
  }

  private def write(items: Long, inputBytes: Long, call: String)(body: => Unit): Unit = {
    val w0 = Trace.bytesWritten
    val ok = ctx.timed("write", items) {
      tracer.span("MergeWriter", call, sql = true) {
        if (tracer.enabled) tracer.current.foreach(_.add("input_row_bytes", inputBytes))
        body
        tracer.afterOpNote("files_live")(MergeWriter.tableFiles(spark, tablePath).count().toDouble)
      }
    }
    if (ok) {
      ctx.writeBytes += Trace.bytesWritten - w0
      ctx.writeInputBytes += inputBytes
    }
  }

  private def merge(): Unit = {
    val rows = zipf.distinct(gen.split(), knobs.mergeKeys).map { k =>
      val key = "C-" + k
      row(key, model.get(key).map(_.revision + 1).getOrElse(1))
    }
    source(rows)
    write(rows.size, rows.map(_.json.length.toLong).sum, "sql.merge") {
      sql(s"MERGE INTO $table t USING pb_src s ON t.workItemId = s.workItemId " +
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    }
    rows.foreach(r => model(r.workItemId) = r)
  }

  private def delete(): Unit = {
    val keys = zipf.distinct(gen.split(), knobs.deleteKeys).map("C-" + _)
    val inList = keys.map(k => s"'$k'").mkString(",")
    write(keys.count(model.contains), inList.length, "sql.delete") {
      sql(s"DELETE FROM $table WHERE workItemId IN ($inList)")
    }
    keys.foreach(model.remove)
  }

  private def point(): Unit = {
    val ids = zipf.distinct(gen.split(), 1 + gen.nextInt(knobs.pointKeysMax)).map("C-" + _)
    var df: DataFrame = null
    val ok = ctx.timed("point", 0L) {
      df = tracer.span("MergeWriter", "readKeys.plan") {
        MergeWriter.readKeys(spark, tablePath, ids.toDF("workItemId"), Seq("workItemId"))
      }
      tracer.span("MergeWriter", "readKeys.exec")(Frames.noop(df))
    }
    if (!ok) return
    val got = df.as[CRow].collect().sortBy(_.workItemId).toSeq
    val want = ids.flatMap(model.get).sortBy(_.workItemId)
    ctx.check(got == want, s"churn: point read of ${ids.mkString(",")} gave $got, model $want")
    ctx.setItems(got.size)
    noteReturned(got.size)
  }

  /** A type and a departure-day window: the dashboard filter. */
  private final case class Filter(t: String, d0: LocalDate, d1: LocalDate) {
    def apply(df: DataFrame): DataFrame =
      df.filter(col("workItemType") === t && Frames.between(col("departureDay"), d0, d1))
    def sql: String =
      s"workItemType = '$t' AND departureDay BETWEEN DATE'$d0' AND DATE'$d1'"
  }

  private def nextFilter(): Filter = {
    val t = Flow.Types(gen.nextInt(Flow.Types.size))
    val (d0, d1) = gen.window(knobs.aggDaysMin, knobs.aggDaysMax)
    Filter(t, d0, d1)
  }

  private def leadTimes(df: DataFrame): DataFrame =
    Insights.leadTimeStats(df, col("state"), col("commitmentDay"), col("departureDay"))

  /** The same aggregates over the model's rows, with no storage involved. */
  private def checkAgainstModel(what: String, f: Filter, got: Seq[DataFrame],
                                aggs: Seq[DataFrame => DataFrame]): Unit = {
    val mem = f(model.values.toSeq.toDS().toDF())
    got.zip(aggs).foreach { case (g, a) =>
      val gr = g.collect().map(_.toString).sorted.toSeq
      val er = a(mem).collect().map(_.toString).sorted.toSeq
      ctx.check(gr == er, s"churn: $what $f gave $gr, model $er")
    }
    val n = mem.count()
    ctx.setItems(n)
    noteReturned(n)
  }

  private def scan(): Unit = {
    val f = nextFilter()
    var df: DataFrame = null
    val ok = ctx.timed("scan", 0L) {
      df = tracer.span("GraftFormat", "load.plan") {
        leadTimes(f(spark.read.format("graft").load(tablePath)))
      }
      tracer.span("GraftFormat", "exec")(Frames.noop(df))
    }
    if (ok) checkAgainstModel("format(graft) lead times", f, Seq(df), Seq(leadTimes))
  }

  private def agg(): Unit = {
    val f = nextFilter()
    val aggs: Seq[DataFrame => DataFrame] =
      Seq(leadTimes, df => Insights.throughputQuartiles(df, col("departureDay")))
    var outs: Seq[DataFrame] = Nil
    val ok = ctx.timed("agg", 0L) {
      val src = tracer.span("GraftCatalog", "sql", sql = true) {
        sql(s"SELECT * FROM $table WHERE ${f.sql}")
      }
      outs = aggs.map(_(src))
      tracer.span("Insights", "leadTimeStats", sql = true)(Frames.noop(outs(0)))
      tracer.span("Insights", "throughputQuartiles", sql = true)(Frames.noop(outs(1)))
    }
    if (ok) checkAgainstModel("SQL dashboard", f, outs, aggs)
  }

  private def noteReturned(n: Long): Unit =
    tracer.lastOp.foreach(s => s.add("rows_returned", n))

  def finish(): (Long, Long) = {
    val got = spark.table(table).as[CRow].collect().sortBy(_.workItemId).toSeq
    val want = model.values.toSeq.sortBy(_.workItemId)
    ctx.check(got == want, s"churn: final table has ${got.size} rows, model ${want.size}; " +
      s"first difference ${got.zipAll(want, null, null).find(p => p._1 != p._2)}")
    (Frames.dirBytes(tablePath),
      Frames.plainBytes(MergeWriter.readTable(spark, tablePath), s"$root/plain-items"))
  }
}
