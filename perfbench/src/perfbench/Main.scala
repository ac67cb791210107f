package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Minimal JSON rendering for the benchmark's own output. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null"
      else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
      else d.toString
    case f: Float => apply(f.toDouble)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case o: Option[_] => o.map(apply).getOrElse("null")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case xs: Array[_] => apply(xs.toSeq)
    case x => str(x.toString)
  }
  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
}

/** Entry point: `--workload ingest|churn --seed N --seconds S
  * --trace 0|1 --cpus N --work DIR --out DIR`, or `--selftest` with the
  * same directory flags. Prints detail lines and, last, one JSON result.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val opts = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    val cpus = opts.getOrElse("cpus", Runtime.getRuntime.availableProcessors.toString).toInt
    val work = new File(opts("work"))
    val out = new File(opts("out"))
    Frames.deleteRecursively(work)
    work.mkdirs(); out.mkdirs()
    val trace = opts.getOrElse("trace", "0") == "1"
    val spark = session(cpus, work, trace)
    val code =
      try {
        if (opts.contains("selftest")) SelfTest.run(spark, work)
        else bench(spark, opts, cpus, work, out, trace, t0)
      } finally {
        spark.stop()
        Frames.deleteRecursively(work)
      }
    System.out.flush()
    sys.exit(code)
  }

  /** `graft.Bench`'s session confs, on local[cpus] with cpus shuffle
    * partitions; the warehouse and scratch space stay under `work`.
    */
  def session(cpus: Int, work: File, trace: Boolean): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", new File(work, "spark-warehouse").getAbsolutePath)
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
    if (trace) b.config("spark.hadoop.fs.file.impl", classOf[CountingLocalFs].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def bench(spark: SparkSession, opts: Map[String, String], cpus: Int, work: File,
                    out: File, trace: Boolean, t0: Long): Int = {
    val name = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val knobs = Knobs()
    val tracer = new Tracer(spark)
    if (trace) tracer.install()
    val ctx = new Ctx(spark, tracer, knobs, seed, work)
    val wl: Workload = name match {
      case "ingest" => new Ingest(ctx)
      case "churn" => new Churn(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
    val env0 = envInfo(spark)
    val sessionS = (System.nanoTime() - t0) / 1e9
    wl.setup()
    val setupS = (System.nanoTime() - t0) / 1e9
    println(f"perfbench: session $sessionS%.3f s, set-up $setupS%.3f s")

    // closed loop: one client, next cycle when the previous completes. A
    // traced run runs at least four cycles, U-U-T-U, and traces every
    // other cycle after the first: the tracing overhead compares traced
    // cycles with the untraced ones around them, leaving out the coldest,
    // first cycle, so the JVM's warm-up trend mostly cancels.
    val budgetMs = seconds * 1000
    val minCycles = if (trace) 4 else 1
    val wallLimitNs = System.nanoTime() + (seconds * 4 + 30).toLong * 1000000000L
    var i = 0
    while ((i < minCycles || ctx.ops.map(_.ms).sum < budgetMs) &&
           System.nanoTime() < wallLimitNs && ctx.failed < 5) {
      tracer.enabled = trace && i > 0 && i % 2 == 0
      ctx.cycle = i
      wl.cycle(i)
      i += 1
    }
    tracer.enabled = false
    val (diskBytes, liveBytes) =
      try wl.finish()
      catch {
        case e: Throwable =>
          ctx.check(false, s"final check failed: $e"); e.printStackTrace(); (0L, 1L)
      }

    val timedOps = ctx.ops.filterNot(_.traced).toSeq
    val ms = timedOps.map(_.ms)
    val opS = ms.sum / 1000
    val metrics = mutable.LinkedHashMap.empty[String, Layers.M]
    val perKind = mutable.LinkedHashMap.empty[String, Any]
    for ((k, os) <- timedOps.groupBy(_.kind).toSeq.sortBy(_._1)) {
      val (t, p, c) = Stats.tail(os.map(_.ms))
      perKind(k) = Map("p50_ms" -> Stats.quantile(os.map(_.ms), 0.5), "tail_ms" -> t,
        "tail_percentile" -> p, "samples" -> c)
    }
    val writes = timedOps.filter(_.kind == "write")
    val e2e = mutable.LinkedHashMap[String, Layers.M](
      "setup_s" -> Layers.M(setupS, "s"),
      "write_p50_ms" -> Layers.M(Stats.quantile(writes.map(_.ms), 0.5), "ms"),
      "ops_per_s" -> Layers.M(if (opS > 0) timedOps.size / opS else 0.0, "1/s"),
      "items_per_s" -> Layers.M(if (opS > 0) writes.map(_.items).sum / opS else 0.0, "1/s"),
      "space_amp" -> Layers.M(diskBytes.toDouble / math.max(liveBytes, 1L), "ratio"))
    val failedFrac = ctx.failed.toDouble / math.max(ctx.attempted, 1L)
    var traceFile: Option[String] = None
    if (trace) {
      tracer.drain()
      metrics ++= Layers.report(tracer, ctx)
      val f = new File(out, s"trace-$name-seed$seed.json")
      writeTrace(f, tracer, metrics, e2e)
      traceFile = Some(f.getPath)
    } else metrics ++= e2e

    val detail = mutable.LinkedHashMap[String, Any](
      "workload" -> name, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "cycles" -> i, "attempted" -> ctx.attempted, "failed" -> ctx.failed,
      "failed_frac" -> failedFrac, "errors" -> ctx.errors.take(20),
      "setup_s" -> setupS, "session_s" -> sessionS,
      "ops_by_kind" -> perKind,
      "table_bytes" -> diskBytes, "live_plain_bytes" -> liveBytes,
      "end_to_end" -> e2e.map { case (k, m) => k -> m.value },
      "trace_file" -> traceFile, "knobs" -> knobs.toString,
      "env_at_start" -> env0, "env_at_end" -> envInfo(spark))
    val detailFile = new File(out, s"run-$name-seed$seed-trace${if (trace) 1 else 0}.json")
    Files.write(detailFile.toPath, Json(detail).getBytes(StandardCharsets.UTF_8))
    println(s"perfbench: $name seed $seed: ${ctx.attempted} ops in $i cycles; " +
      s"details in ${detailFile.getPath}")
    perKind.foreach { case (k, v) => println(s"perfbench:   $k ${Json(v)}") }
    ctx.errors.take(5).foreach(e => println(s"perfbench: ERROR $e"))
    val correct = ctx.failed == 0
    val result = mutable.LinkedHashMap[String, Any](
      "correct" -> correct, "attempted" -> ctx.attempted, "failed" -> ctx.failed,
      "metrics" -> metrics.map { case (k, m) => k -> Map("value" -> m.value, "unit" -> m.unit) })
    println(Json(result))
    if (correct) 0 else 1
  }

  private def writeTrace(f: File, tr: Tracer, metrics: mutable.LinkedHashMap[String, Layers.M],
                         e2e: mutable.LinkedHashMap[String, Layers.M]): Unit = {
    val qes = tr.qesBySpan()
    val spans = tr.spans.map { s =>
      val w = tr.workOf(s.id)
      mutable.LinkedHashMap[String, Any](
        "id" -> s.id, "name" -> (if (s.parent == -1) s"op.${s.call}" else s"${s.layer}.${s.call}"),
        "op" -> s.op, "parent" -> s.parent, "start_ms" -> s.t0Ms, "end_ms" -> s.t1Ms,
        "dur_ms" -> s.ms, "counts" -> s.counts, "jobs" -> w.jobs, "stages" -> w.stages,
        "tasks" -> w.tasks, "task_ms" -> w.taskMs, "shuffle_bytes" -> w.shuffleBytes,
        "spill_bytes" -> w.spillBytes, "records_read" -> w.recordsRead,
        "query_phases_ms" -> qes.getOrElse(s.id, Nil).map(_._1))
    }
    val self = Layers.selfTimes(tr).map { case (l, ms, calls) =>
      l -> Map("self_ms" -> ms, "calls" -> calls) }.toMap
    val doc = mutable.LinkedHashMap[String, Any](
      "summary" -> mutable.LinkedHashMap[String, Any](
        "layer_self_time" -> self,
        "unattributed_frac" -> metrics.get("unattributed_frac").map(_.value),
        "trace_overhead_frac" -> metrics.get("trace.overhead_frac").map(_.value),
        "untraced_end_to_end" -> e2e.map { case (k, m) => k -> m.value }),
      "metrics" -> metrics.map { case (k, m) => k -> m.value },
      "spans" -> spans)
    Files.write(f.toPath, Json(doc).getBytes(StandardCharsets.UTF_8))
  }

  /** What shares the machine: confs, JVM flags, cpus, load, other JVMs. */
  private def envInfo(spark: SparkSession): Map[String, Any] = {
    val self = ProcessHandle.current().pid()
    val javas = Option(new File("/proc").listFiles).toSeq.flatten
      .filter(_.getName.forall(_.isDigit)).filter(_.getName.toLong != self).flatMap { p =>
        scala.util.Try(new String(Files.readAllBytes(Paths.get(p.getPath, "cmdline")),
          StandardCharsets.UTF_8).replace('\u0000', ' ').trim).toOption
          .filter(c => c.split(' ').headOption.exists(_.endsWith("java")))
          .map(c => s"${p.getName}: ${c.take(300)}")
      }
    Map(
      "nproc" -> Runtime.getRuntime.availableProcessors,
      "loadavg" -> scala.util.Try(new String(Files.readAllBytes(Paths.get("/proc/loadavg")),
        StandardCharsets.UTF_8).trim).getOrElse("n/a"),
      "other_java_processes" -> javas,
      "jvm_flags" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq,
      "max_heap_bytes" -> Runtime.getRuntime.maxMemory,
      "spark_confs" -> spark.conf.getAll.toSeq.sorted.map { case (k, v) => s"$k=$v" })
  }
}
