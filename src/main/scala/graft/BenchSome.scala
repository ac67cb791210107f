package graft

import org.apache.spark.sql.SparkSession

/** Dev tool: time a subset of queries in a fresh JVM.
  * runMain graft.BenchSome <sfDir> <q1,q2,...>
  */
object BenchSome {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.lift(1).map(_.split(",").toSeq)
      .getOrElse(SparkEntry.queries.keys.toSeq.sorted)
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      // Bench's generated-class cache size, so an A/B here measures the
      // engine Bench measures (the default 100 entries re-compiles)
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { name =>
      val t0 = System.nanoTime()
      // noop sink: full-column materialization (see Bench — count() lets
      // Catalyst skip the projected work entirely on some query shapes)
      SparkEntry.queries(name)(spark, dir)
        .write.format("noop").mode("overwrite").save()
      println(f"[bench] $name: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    spark.stop()
  }
}
