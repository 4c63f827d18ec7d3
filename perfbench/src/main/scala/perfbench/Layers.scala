package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** What one key did in one traced pass, as seen from Spark's public listener
  * interfaces. Counters are additive over keys; the interval lists become
  * child spans of the key. */
final class KeyLayers {
  val c = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  val jobs = mutable.ArrayBuffer.empty[(Int, Double, Double)]          // id, start, end
  val stages = mutable.ArrayBuffer.empty[(Int, Double, Double, Seq[Double])] // job, start, end, task ms
  val phases = mutable.ArrayBuffer.empty[(String, Double, Double)]
  val batches = mutable.ArrayBuffer.empty[(Double, Double)]
  def max(name: String, v: Double): Unit = c(name) = math.max(c(name), v)
}

/** The traced run's listeners. Attach before a traced pass and detach after
  * it, so an untraced pass in the same JVM pays nothing. Listener callbacks
  * run on the bus thread; `Bus.drain` after each key publishes them. */
final class LayerProbe(spark: SparkSession) {
  @volatile private var cur: KeyLayers = new KeyLayers
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stageTasks = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Double]]
  private val MB = 1e6

  def begin(): Unit = cur = new KeyLayers
  def end(): KeyLayers = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    cur
  }

  private val jobsAndTasks = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      cur.jobs += ((e.jobId, e.time.toDouble, Double.NaN))
      e.stageIds.foreach(stageJob(_) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val i = cur.jobs.indexWhere(_._1 == e.jobId)
      if (i >= 0) cur.jobs(i) = cur.jobs(i).copy(_3 = e.time.toDouble)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val k = cur.c
      val info = e.taskInfo
      k("exec.tasks") += 1
      k("exec.task_s") += info.duration / 1000.0
      if (!info.successful) k("exec.task_failures") += 1
      stageTasks.getOrElseUpdate((e.stageId, e.stageAttemptId),
        mutable.ArrayBuffer.empty) += info.duration.toDouble
      Option(e.taskMetrics).foreach { m =>
        k("exec.cpu_s") += m.executorCpuTime / 1e9
        k("exec.gc_s") += m.jvmGCTime / 1000.0
        k("scan.input_mb") += m.inputMetrics.bytesRead / MB
        k("scan.input_rows") += m.inputMetrics.recordsRead
        k("shuffle.write_mb") += m.shuffleWriteMetrics.bytesWritten / MB
        k("shuffle.read_mb") += m.shuffleReadMetrics.totalBytesRead / MB
        k("shuffle.fetch_wait_s") += m.shuffleReadMetrics.fetchWaitTime / 1000.0
        k("spill.mb") += (m.memoryBytesSpilled + m.diskBytesSpilled) / MB
        k("sink.written_mb") += m.outputMetrics.bytesWritten / MB
        k("sink.records") += m.outputMetrics.recordsWritten
        cur.max("exec.peak_mem_mb", m.peakExecutionMemory / MB)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = e.stageInfo
      val tasks = stageTasks.remove((s.stageId, s.attemptNumber())).map(_.toSeq).getOrElse(Nil)
      for (a <- s.submissionTime; b <- s.completionTime)
        cur.stages += ((stageJob.getOrElse(s.stageId, -1), a.toDouble, b.toDouble, tasks))
    }
  }

  private val plans = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      cur.c("plan.queries") += 1
      qe.tracker.phases.foreach { case (phase, p) =>
        val name = phase match {
          case "analysis" => "plan.analysis_s"
          case "optimization" => "plan.optimizer_s"
          case "planning" => "plan.planning_s"
          case other => s"plan.${other}_s"
        }
        cur.c(name) += (p.endTimeMs - p.startTimeMs) / 1000.0
        cur.phases += ((name.stripSuffix("_s"), p.startTimeMs.toDouble, p.endTimeMs.toDouble))
      }
    }
  }

  private val streams = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val k = cur.c
      def ms(n: String): Double = Option(p.durationMs.get(n)).map(_.doubleValue).getOrElse(0.0)
      k("stream.batches") += 1
      k("stream.add_batch_s") += ms("addBatch") / 1000
      k("stream.query_planning_s") += ms("queryPlanning") / 1000
      k("stream.wal_commit_s") += ms("walCommit") / 1000
      k("stream.commit_offsets_s") += ms("commitOffsets") / 1000
      cur.max("stream.state_rows", p.stateOperators.map(_.numRowsTotal.toDouble).sum)
      cur.max("stream.state_mem_mb", p.stateOperators.map(_.memoryUsedBytes.toDouble).sum / MB)
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      cur.batches += ((start, start + ms("triggerExecution")))
    }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(jobsAndTasks)
    spark.listenerManager.register(plans)
    spark.streams.addListener(streams)
  }

  def detach(): Unit = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(jobsAndTasks)
    spark.listenerManager.unregister(plans)
    spark.streams.removeListener(streams)
  }
}

/** Per-key traced observations turned into spans and layer counters. */
object Layers {
  /** Additive counters every key reports, in reporting order. */
  val additive: Seq[String] = Seq(
    "ops.build_s", "ops.build_jobs", "shared.builds", "shared.build_s",
    "shared.cached_mb", "plan.queries", "plan.analysis_s", "plan.optimizer_s",
    "plan.planning_s", "codegen.compiles", "codegen.compile_s", "exec.jobs",
    "exec.stages", "exec.tasks", "exec.task_s", "exec.cpu_s", "exec.gc_s",
    "exec.task_failures", "exec.idle_core_s", "exec.driver_only_s",
    "scan.input_mb", "scan.input_rows", "shuffle.write_mb", "shuffle.read_mb",
    "shuffle.fetch_wait_s", "spill.mb", "stream.batches", "stream.add_batch_s",
    "stream.query_planning_s", "stream.wal_commit_s", "stream.commit_offsets_s",
    "sink.written_mb", "sink.records")
  /** Every span name below a pass, for the self-time report. */
  val spanNames: Seq[String] = Seq("key", "ops.build", "exec", "plan.analysis",
    "plan.optimizer", "plan.planning", "stream.batch", "job", "stage")
  /** Reported as the largest value over the keys of a pass. */
  val maxima: Seq[String] = Seq("exec.peak_mem_mb", "stream.state_rows", "stream.state_mem_mb")

  /** One key's derived counters and child spans, given its own spans'
    * intervals: the build [b0, b1] and the whole key [s0, s1]. */
  def finish(l: KeyLayers, cpus: Int, s0: Double, b0: Double, b1: Double,
      s1: Double): Map[String, Double] = {
    val stageIv = l.stages.map(s => (s._2, s._3)).toSeq
    val active = Trace.coveredMs(s0, s1, stageIv)
    val c = l.c
    c("exec.jobs") = l.jobs.size.toDouble
    c("exec.stages") = l.stages.size.toDouble
    c("ops.build_s") = (b1 - b0) / 1000
    c("ops.build_jobs") = l.jobs.count(j => j._2 >= b0 && j._2 <= b1).toDouble
    c("exec.idle_core_s") = math.max(0.0, cpus * active / 1000 - c("exec.task_s"))
    c("exec.driver_only_s") = (s1 - s0 - active) / 1000
    c.toMap
  }

  /** Adds the key's listener-derived child spans under `parents` (name →
    * span id of the key's own build and exec spans). A job or batch hangs
    * under the innermost span that contains its start; a stage under its job. */
  def spans(t: Tracer, l: KeyLayers, key: String, pass: String,
      own: Seq[(Long, Double, Double)]): Unit = {
    val batchIds = l.batches.map { case (a, b) =>
      val p = innermost(own, a)
      (t.add(p, "stream.batch", key, pass, a, b), a, b)
    }
    val containers = own ++ batchIds
    l.phases.foreach { case (n, a, b) =>
      t.add(innermost(containers, a), n, key, pass, a, b) }
    val jobIds = l.jobs.map { case (id, a, b) =>
      val end = if (b.isNaN) a else b
      id -> t.add(innermost(containers, a), "job", key, pass, a, end)
    }.toMap
    l.stages.foreach { case (job, a, b, _) =>
      t.add(jobIds.getOrElse(job, innermost(containers, a)), "stage", key, pass, a, b) }
  }

  private def innermost(cands: Seq[(Long, Double, Double)], at: Double): Long = {
    val inside = cands.filter { case (_, a, b) => at >= a && at <= b }
    val pool = if (inside.nonEmpty) inside else cands.take(1)
    pool.minBy { case (_, a, b) => b - a }._1
  }

  /** Pass-level values: additive counters summed over keys (warm passes take
    * each key's median first), maxima maxed, and exec.skew as the median over
    * the pass's stages of max/median task time. */
  def summarize(perKey: Seq[Seq[Map[String, Double]]], stageSkews: Seq[Double]): Map[String, Double] = {
    def sumOf(n: String) = perKey.map(samples => Stats.median(samples.map(_.getOrElse(n, 0.0)))).sum
    def maxOf(n: String) = perKey.flatten.map(_.getOrElse(n, 0.0)).maxOption.getOrElse(0.0)
    val base = additive.map(n => n -> sumOf(n)) ++ maxima.map(n => n -> maxOf(n))
    val m = base.toMap
    val amp = if (m("scan.input_mb") > 0) m("sink.written_mb") / m("scan.input_mb") else 0.0
    (base ++ Seq(
      "exec.skew" -> (if (stageSkews.isEmpty) 1.0 else Stats.median(stageSkews)),
      "sink.write_amp" -> amp)).toMap
  }
}
