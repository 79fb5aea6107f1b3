package kgbench

import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession

import graft.jobs.IngestJob

/** One timed, cold KG build in a fresh JVM.
  *
  *   Run setup
  *   Run build <work-dir> <docs-parquet> <meta-parquet>
  *
  * `setup` only brings up the SparkSession; `build` then calls
  * `IngestJob.run` once on the given inputs. Each prints one
  * `KGBENCH {json}` line on stdout. There is no warm-up: every spark-submit
  * of IngestJob pays the same cold start.
  */
object Run {

  /** The session IngestJob.main builds, at the benchmark's fixed 4 cores. */
  def session(): SparkSession = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-ingest")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Seconds from JVM start to now. */
  def sinceJvmStart(): Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  def buildArgs(work: String, docs: String, meta: String): IngestJob.Args =
    IngestJob.parse(Array("--work", work, "--input", docs, "--meta-input", meta))

  def main(args: Array[String]): Unit = {
    val spark = session()
    val setupS = sinceJvmStart()
    try args.toSeq match {
      case Seq("setup") =>
        println(f"""KGBENCH {"setup_s":$setupS%.4f}""")
      case Seq("build", work, docs, meta) =>
        val a = buildArgs(work, docs, meta)
        val t0 = System.nanoTime()
        IngestJob.run(spark, a)
        val buildS = (System.nanoTime() - t0) / 1e9
        println(f"""KGBENCH {"setup_s":$setupS%.4f,"build_s":$buildS%.4f}""")
      case other => sys.error(s"usage: Run setup | Run build WORK DOCS META, got $other")
    } finally spark.stop()
  }
}
