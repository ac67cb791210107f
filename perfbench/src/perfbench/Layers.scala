package perfbench

import scala.collection.mutable

/** Per-layer metrics from a traced run: each layer's spans summed per op
  * (averaged over the ops that called the layer), plus whole-op runtime
  * counts. A layer the workload never calls reports 0.
  */
object Layers {
  final case class M(value: Double, unit: String)

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else Stats.quantile(xs, 0.5)

  /** Total length of the union of `ivs` clipped to [lo, hi]. */
  def covered(ivs: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val c = ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    c.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  def report(tr: Tracer, ctx: Ctx): mutable.LinkedHashMap[String, M] = {
    val out = mutable.LinkedHashMap.empty[String, M]
    val spans = tr.spans.toSeq
    val roots = spans.filter(_.parent == -1)
    val children = spans.filter(_.parent != -1)
    val qes = tr.qesBySpan()
    def work(s: Span) = tr.workOf(s.id)
    def c(s: Span, k: String) = s.counts.getOrElse(k, 0.0)

    /** Mean over the ops that have spans matching `sel` of the per-op sum of `f`. */
    def perOp(sel: Span => Boolean)(f: Span => Double): Double = {
      val byOp = children.filter(sel).groupBy(_.op)
      if (byOp.isEmpty) 0.0 else byOp.values.map(_.map(f).sum).sum / byOp.size
    }
    def ratio(sel: Span => Boolean)(num: Span => Double, den: Span => Double): Double = {
      val ss = children.filter(sel)
      val d = ss.map(den).sum
      if (d == 0) 0.0 else ss.map(num).sum / d
    }
    def returnedFor(sel: Span => Boolean): Double = {
      val ops = children.filter(sel).map(_.op).toSet
      roots.filter(r => ops.contains(r.op)).map(c(_, "rows_returned")).sum
    }
    def examinedPerReturned(sel: Span => Boolean): Double = {
      val ret = returnedFor(sel)
      if (ret == 0) 0.0 else children.filter(sel).map(work(_).recordsRead.toDouble).sum / ret
    }
    def skew(s: Span): Double = {
      val rs = work(s).stageTaskMs.values.filter(_.size >= 2).map { ts =>
        val m = median(ts.map(_.toDouble).toSeq)
        if (m <= 0) 1.0 else ts.max / m
      }
      if (rs.isEmpty) 1.0 else rs.max
    }
    def driverMs(s: Span): Double =
      math.max(0.0, s.t1Ms - s.t0Ms - covered(work(s).jobIntervals.toSeq, s.t0Ms, s.t1Ms))

    val raw = (s: Span) => s.layer == "RawItems"
    out("RawItems.ms") = M(perOp(raw)(_.ms), "ms")
    out("RawItems.input_bytes") = M(perOp(raw)(c(_, "input_bytes")), "bytes")
    out("RawItems.records") = M(perOp(raw)(c(_, "records")), "count")

    val rp = (s: Span) => s.layer == "RevisionPipeline"
    out("RevisionPipeline.ms") = M(perOp(rp)(_.ms), "ms")
    out("RevisionPipeline.jobs") = M(perOp(rp)(work(_).jobs), "count")
    out("RevisionPipeline.task_ms") = M(perOp(rp)(work(_).taskMs.toDouble), "ms")
    out("RevisionPipeline.shuffle_bytes") = M(perOp(rp)(work(_).shuffleBytes.toDouble), "bytes")
    out("RevisionPipeline.spill_bytes") = M(perOp(rp)(work(_).spillBytes.toDouble), "bytes")
    out("RevisionPipeline.task_skew") = M(median(children.filter(rp).map(skew)), "ratio")
    out("RevisionPipeline.revisions_per_item") =
      M(ratio(rp)(c(_, "revisions"), c(_, "items")), "ratio")

    val mw = (s: Span) => s.layer == "MergeWriter" &&
      (s.call.startsWith("merge") || s.call.startsWith("sql."))
    out("MergeWriter.write_ms") = M(perOp(mw)(_.ms), "ms")
    out("MergeWriter.write_jobs") = M(perOp(mw)(work(_).jobs), "count")
    out("MergeWriter.write_stages") = M(perOp(mw)(work(_).stages), "count")
    out("MergeWriter.write_tasks") = M(perOp(mw)(work(_).tasks), "count")
    out("MergeWriter.write_task_ms") = M(perOp(mw)(work(_).taskMs.toDouble), "ms")
    out("MergeWriter.write_driver_ms") = M(perOp(mw)(driverMs), "ms")
    for (k <- Seq("fs_creates", "fs_renames", "fs_deletes", "fs_lists"))
      out(s"MergeWriter.$k") = M(perOp(mw)(c(_, k)), "count")
    out("MergeWriter.bytes_written") = M(perOp(mw)(c(_, "bytes_written")), "bytes")
    out("MergeWriter.rewrite_ratio") =
      M(ratio(mw)(c(_, "bytes_written"), c(_, "input_row_bytes")), "ratio")
    out("MergeWriter.commit_retries") = M(perOp(mw)(c(_, "commit_retries")), "count")
    out("MergeWriter.files_live") = M(perOp(mw)(c(_, "files_live")), "count")

    val mr = (s: Span) => s.layer == "MergeWriter" && s.call.startsWith("read")
    out("MergeWriter.read_plan_ms") = M(perOp(s => mr(s) && s.call.endsWith(".plan"))(_.ms), "ms")
    out("MergeWriter.read_exec_ms") = M(perOp(s => mr(s) && s.call.endsWith(".exec"))(_.ms), "ms")
    out("MergeWriter.read_jobs") = M(perOp(mr)(work(_).jobs), "count")
    out("MergeWriter.rows_examined_per_returned") = M(examinedPerReturned(mr), "ratio")
    out("MergeWriter.fs_opens") = M(perOp(mr)(c(_, "fs_opens")), "count")

    val sql = (s: Span) => s.sql
    def phase(name: String)(s: Span): Double =
      qes.getOrElse(s.id, Nil).map(_._1.getOrElse(name, 0L).toDouble).sum
    out("GraftCatalog.parse_ms") = M(perOp(sql)(c(_, "parse_ms")), "ms")
    out("GraftCatalog.analysis_ms") = M(perOp(sql)(phase("analysis")), "ms")
    out("GraftCatalog.optimization_ms") = M(perOp(sql)(phase("optimization")), "ms")
    out("GraftCatalog.planning_ms") = M(perOp(sql)(phase("planning")), "ms")
    out("GraftCatalog.exec_ms") =
      M(perOp(sql)(s => qes.getOrElse(s.id, Nil).map(_._2 / 1e6).sum), "ms")
    out("GraftCatalog.jobs") = M(perOp(sql)(work(_).jobs), "count")

    val gf = (s: Span) => s.layer == "GraftFormat"
    out("GraftFormat.read_plan_ms") = M(perOp(s => gf(s) && s.call.endsWith(".plan"))(_.ms), "ms")
    out("GraftFormat.read_exec_ms") = M(perOp(s => gf(s) && s.call == "exec")(_.ms), "ms")
    out("GraftFormat.jobs") = M(perOp(gf)(work(_).jobs), "count")
    out("GraftFormat.rows_examined_per_returned") = M(examinedPerReturned(gf), "ratio")

    val ins = (s: Span) => s.layer == "Insights"
    out("Insights.ms") = M(perOp(ins)(_.ms), "ms")
    out("Insights.jobs") = M(perOp(ins)(work(_).jobs), "count")
    out("Insights.task_ms") = M(perOp(ins)(work(_).taskMs.toDouble), "ms")

    val wm = (s: Span) => s.layer == "Watermarks"
    out("Watermarks.ms") = M(perOp(wm)(_.ms), "ms")
    out("Watermarks.jobs") = M(perOp(wm)(work(_).jobs), "count")

    // whole-op runtime
    val n = math.max(roots.size, 1).toDouble
    val kids = children.groupBy(_.op)
    val opMs = roots.map(_.ms).sum
    val opWallMs = roots.map(r => (r.t1Ms - r.t0Ms).toDouble).sum
    out("spark.codegen_compiles") = M(roots.map(c(_, "codegen_compiles")).sum / n, "count")
    out("spark.jobs_per_op") = M(spans.map(work(_).jobs).sum / n, "count")
    out("jvm.gc_ms") = M(roots.map(c(_, "gc_ms")).sum / n, "ms")
    out("jvm.jit_ms") = M(roots.map(c(_, "jit_ms")).sum / n, "ms")
    val jobCovered = roots.map { r =>
      val ivs = (r +: kids.getOrElse(r.op, Nil)).flatMap(s => work(s).jobIntervals)
      covered(ivs, r.t0Ms, r.t1Ms).toDouble
    }.sum
    out("driver_only_frac") = M(if (opWallMs > 0) 1 - jobCovered / opWallMs else 0.0, "ratio")
    val inLayers = roots.map(r => kids.getOrElse(r.op, Nil).map(_.ms).sum).sum
    out("unattributed_frac") = M(if (opMs > 0) 1 - inLayers / opMs else 0.0, "ratio")
    out("trace.overhead_frac") = M(overhead(ctx.ops.filter(_.cycle > 0).toSeq), "ratio")

    // untraced op latencies by kind, and write amplification (a single
    // drop's input size swings it too far between seeds to gate on)
    val untraced = ctx.ops.filterNot(_.traced)
    for (k <- Seq("write", "point", "scan", "agg")) {
      val ms = untraced.filter(_.kind == k).map(_.ms).toSeq
      out(s"op.${k}_p50_ms") = M(median(ms), "ms")
      out(s"op.${k}_tail_ms") = M(Stats.tail(ms)._1, "ms")
    }
    out("write_amp") = M(Stats.writeAmp(ctx), "ratio")
    out
  }

  /** Extra time traced ops took over untraced ops of the same kind, as a
    * share of the untraced time (kinds weighted by their traced count).
    */
  def overhead(ops: Seq[OpRec]): Double = {
    var extra = 0.0
    var base = 0.0
    ops.groupBy(_.kind).values.foreach { os =>
      val (t, u) = os.partition(_.traced)
      if (t.nonEmpty && u.nonEmpty) {
        val mt = t.map(_.ms).sum / t.size
        val mu = u.map(_.ms).sum / u.size
        extra += t.size * (mt - mu)
        base += t.size * mu
      }
    }
    if (base > 0) extra / base else 0.0
  }

  /** Each layer's self time (span time minus its child spans), summed. */
  def selfTimes(tr: Tracer): Seq[(String, Double, Int)] = {
    val childMs = tr.spans.groupBy(_.parent).map { case (p, ss) => p -> ss.map(_.ms).sum }
    tr.spans.toSeq.groupBy(s => if (s.parent == -1) "op" else s.layer).toSeq.map {
      case (layer, ss) => (layer, ss.map(s => s.ms - childMs.getOrElse(s.id, 0.0)).sum, ss.size)
    }.sortBy(-_._2)
  }
}

object Stats {
  /** Linear-interpolation quantile (type 7). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else {
      val h = (s.size - 1) * q
      val lo = math.floor(h).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (h - lo) * (s(hi) - s(lo))
    }
  }

  /** The highest percentile with at least ten samples beyond it:
    * (value, percentile, sample count). Falls back to the median below
    * twenty samples.
    */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val n = xs.size
    val q = if (n >= 20) 1.0 - 10.0 / n else 0.5
    (quantile(xs, q), q * 100, n)
  }

  def writeAmp(ctx: Ctx): Double =
    if (ctx.writeInputBytes > 0) ctx.writeBytes.toDouble / ctx.writeInputBytes else 0.0
}
