package kgbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.kgbench.BusDrain
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{GenerateExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.jobs.IngestJob

/** The traced build.
  *
  *   Trace <work-dir> <docs-parquet> <meta-parquet> <trace-json>
  *
  * Calls the real `IngestJob.run` once, in the session the untraced build
  * uses, and records three things while it runs:
  *   - a SparkListener's jobs, stages and task metrics;
  *   - a sampler thread that every SAMPLE_MS looks at the calling thread's
  *     stack and notes whether it is inside `TableIO.commit`, inside a
  *     layer's code (graft.ingest, graft.link, graft.canon) or elsewhere,
  *     together with the codegen compile time so far;
  *   - the committed query plans, for the linker's candidate-pair count.
  * Everything stays in memory and is written as one JSON document at the
  * end. Stage boundaries come later, from the committed snapshots'
  * `created_at_ms` (layers.py): the program's own commits delimit its stages.
  */
object Trace {

  val SAMPLE_MS = 10L

  private val nano0 = System.nanoTime()
  private val ms0 = System.currentTimeMillis().toDouble

  /** Epoch milliseconds at nanosecond resolution, on the listener's clock. */
  def nowMs(): Double = ms0 + (System.nanoTime() - nano0) / 1e6

  /** Total Janino compile time so far, in ms. The histogram keeps every
    * sample only up to its reservoir size, which main checks.
    */
  private def codegenMs(): Double =
    CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getValues.map(_.toDouble).sum

  final class StageRec {
    var submitted = 0L
    var completed = 0L
    val taskMs = mutable.ArrayBuffer.empty[Long]
    var runMs = 0L
    var shuffleWriteBytes = 0L
    var outputBytes = 0L
  }

  /** Listener state; touched only on the listener-bus thread until drained. */
  final class Recorder extends SparkListener {
    val jobs = mutable.ArrayBuffer.empty[(Long, Long)]
    private val open = mutable.HashMap.empty[Int, Long]
    val stages = mutable.LinkedHashMap.empty[Int, StageRec]

    private def stage(id: Int) = stages.getOrElseUpdate(id, new StageRec)

    override def onJobStart(e: SparkListenerJobStart): Unit = open(e.jobId) = e.time

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      open.remove(e.jobId).foreach(t => jobs += ((t, e.time)))

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = stage(e.stageInfo.stageId)
      s.submitted = e.stageInfo.submissionTime.getOrElse(0L)
      s.completed = e.stageInfo.completionTime.getOrElse(0L)
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val s = stage(e.stageId)
      s.taskMs += e.taskInfo.duration
      Option(e.taskMetrics).foreach { m =>
        s.runMs += m.executorRunTime
        s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        s.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  private val layerPackages = Seq("graft.ingest.", "graft.link.", "graft.canon.")

  /** What a stack is doing: 'c' inside TableIO.commit, 'l' inside a layer's
    * code, 'o' elsewhere.
    */
  def kindOf(stack: Array[StackTraceElement]): Char =
    if (stack.exists(f => f.getClassName == "graft.core.TableIO" &&
        f.getMethodName == "commit")) 'c'
    else if (stack.exists(f => layerPackages.exists(f.getClassName.startsWith))) 'l'
    else 'o'

  /** Samples `target`'s stack and the codegen time every SAMPLE_MS. */
  final class Sampler(target: Thread) extends Thread("kgbench-sampler") {
    setDaemon(true)
    val times = mutable.ArrayBuffer.empty[Double]
    val kinds = new java.lang.StringBuilder
    val codegen = mutable.ArrayBuffer.empty[Double]
    @volatile private var running = true

    private def sample(kind: Char): Unit = {
      times += nowMs()
      kinds.append(kind)
      codegen += codegenMs()
    }

    override def run(): Unit =
      while (running) {
        sample(kindOf(target.getStackTrace))
        Thread.sleep(SAMPLE_MS)
      }

    /** Stops sampling and closes the record with one last sample. */
    def finish(): Unit = {
      running = false
      join()
      sample('o')
    }
  }

  private def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case q: QueryStageExec => planNodes(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(planNodes)
  }

  /** Rows Linker.candidates emitted into the verdict filter: the output of
    * its top-10 explode (the generator aliased `c`) in the committed query.
    */
  def candidatePairs(plans: Seq[QueryExecution]): Long =
    plans.flatMap(qe => planNodes(qe.executedPlan)).collect {
      case g: GenerateExec if g.generatorOutput.map(_.name) == Seq("c") =>
        g.metrics("numOutputRows").value
    }.sum

  def main(args: Array[String]): Unit = {
    import Gen.str
    val Array(work, docs, meta, out) = args
    val spark = Run.session()
    val rec = new Recorder
    spark.sparkContext.addSparkListener(rec)
    val plans = mutable.ArrayBuffer.empty[QueryExecution]
    spark.listenerManager.register(new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.synchronized(plans += qe)
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    })
    try {
      val a = Run.buildArgs(work, docs, meta)
      val sampler = new Sampler(Thread.currentThread())
      sampler.start()
      val start = nowMs()
      IngestJob.run(spark, a)
      val end = nowMs()
      sampler.finish()
      BusDrain(spark.sparkContext)
      require(CodegenMetrics.METRIC_COMPILATION_TIME.getCount <= 1028,
        "more compiles than the codegen histogram's reservoir holds")
      val jobs = rec.jobs.map { case (s, e) => s"""{"start":$s,"end":$e}""" }
      val stages = rec.stages.values.map { s =>
        s"""{"submitted":${s.submitted},"completed":${s.completed},""" +
          s""""task_ms":${s.taskMs.mkString("[", ",", "]")},"run_ms":${s.runMs},""" +
          s""""shuffle_write_bytes":${s.shuffleWriteBytes},"output_bytes":${s.outputBytes}}"""
      }
      val json = s"""{"run":{"start":$start,"end":$end},""" +
        s""""jobs":${jobs.mkString("[", ",", "]")},""" +
        s""""stages":${stages.mkString("[", ",", "]")},""" +
        s""""samples":{"t":${sampler.times.mkString("[", ",", "]")},""" +
        s""""kind":${str(sampler.kinds.toString)},""" +
        s""""codegen_ms":${sampler.codegen.mkString("[", ",", "]")}},""" +
        s""""candidate_pairs":${plans.synchronized(candidatePairs(plans.toSeq))}}"""
      Files.write(Paths.get(out), json.getBytes(StandardCharsets.UTF_8))
      println("KGBENCH {}")
    } finally spark.stop()
  }
}
