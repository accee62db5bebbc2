package perfbench

import scala.collection.mutable

import org.apache.spark.BenchAccess
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Cumulative counters fed by the listeners. Readers take a `snapshot()`
  * after `Trace.drain`, and a layer's share is the difference of two
  * snapshots taken around it. */
final class Counters {
  private val v = mutable.LinkedHashMap(
    "jobs" -> 0.0, "stages" -> 0.0, "tasks" -> 0.0,
    "executor_run_s" -> 0.0, "executor_cpu_s" -> 0.0, "task_wait_s" -> 0.0,
    "gc_s" -> 0.0, "shuffle_write_mb" -> 0.0, "shuffle_read_mb" -> 0.0,
    "spill_mb" -> 0.0, "written_mb" -> 0.0, "plan_s" -> 0.0,
    "artifact_build_s" -> 0.0, "artifact_maintain_s" -> 0.0,
    "stream_batches" -> 0.0, "stream_input_rows" -> 0.0,
    "stream_state_rows" -> 0.0, "stream_commit_ms" -> 0.0,
    "stream_batch_s" -> 0.0)
  def add(k: String, x: Double): Unit = synchronized { v(k) = v(k) + x }
  def snapshot(): Map[String, Double] = synchronized { v.toMap }
}

/** One traced interval: run, pass, query, build, drain, layer call or stage
  * prefix, and (from the listener) Spark job and stage. Times are epoch ms. */
final case class Span(id: Int, parent: Int, kind: String, name: String,
                      start: Double, end: Double)

/** In-memory span recorder plus the listeners that measure Spark from
  * outside the program: a SparkListener (jobs, stages, task metrics), a
  * QueryExecutionListener (Catalyst phases, artifact writes) and a
  * StreamingQueryListener (micro-batch progress). Jobs attach to the span
  * whose id the harness set as the job group before the call. */
final class Trace(spark: SparkSession) {
  val counters = new Counters
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1
  /** (start, end) epoch ms of every finished job, for time outside jobs. */
  private val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  /** jobId -> (span id, start ms, parent span id); stageId -> job span id. */
  private val jobStart = mutable.Map.empty[Int, (Int, Long, Int)]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stageSubmit = mutable.Map.empty[(Int, Int), Long]

  def newId(): Int = synchronized { nextId += 1; nextId - 1 }
  def record(s: Span): Unit = synchronized { spans += s }

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.jobGroup.id"))).flatMap(_.toIntOption)
      Trace.this.synchronized {
        val id = newId()
        jobStart(e.jobId) = (id, e.time, group.getOrElse(0))
        e.stageIds.foreach(stageJob(_) = id)
      }
      counters.add("jobs", 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      jobStart.remove(e.jobId).foreach { case (id, t0, parent) =>
        jobIntervals += ((t0, e.time))
        spans += Span(id, parent, "job", s"job ${e.jobId}", t0.toDouble, e.time.toDouble)
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Trace.this.synchronized {
        val i = e.stageInfo
        stageSubmit((i.stageId, i.attemptNumber())) =
          i.submissionTime.getOrElse(System.currentTimeMillis())
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      counters.add("stages", 1)
      Trace.this.synchronized {
        stageSubmit.remove((i.stageId, i.attemptNumber()))
        spans += Span(newId(), stageJob.remove(i.stageId).getOrElse(0), "stage",
          s"stage ${i.stageId}", i.submissionTime.getOrElse(0L).toDouble,
          i.completionTime.getOrElse(0L).toDouble)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      counters.add("tasks", 1)
      val submitted = Trace.this.synchronized {
        stageSubmit.get((e.stageId, e.stageAttemptId))
      }
      submitted.foreach(t => counters.add("task_wait_s",
        math.max(0L, e.taskInfo.launchTime - t) / 1e3))
      val m = e.taskMetrics
      if (m != null) {
        counters.add("executor_run_s", m.executorRunTime / 1e3)
        counters.add("executor_cpu_s", m.executorCpuTime / 1e9)
        counters.add("gc_s", m.jvmGCTime / 1e3)
        counters.add("shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1e6)
        counters.add("shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead / 1e6)
        counters.add("spill_mb", m.diskBytesSpilled / 1e6)
        counters.add("written_mb", m.outputMetrics.bytesWritten / 1e6)
      }
    }
  }

  /** Artifact tables are `graft_<kind>_<12-hex fingerprint>`; the CDC
    * maintenance tables append `_<tag>[_<part>]` to that name. */
  private val tableName = """(graft_[A-Za-z0-9_]+)""".r
  private val buildTable = """graft_[A-Za-z0-9_]+_[0-9a-f]{12}""".r

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      counters.add("plan_s", Seq("analysis", "optimization", "planning")
        .flatMap(phases.get).map(_.durationMs).sum / 1e3)
      val head = qe.logical.toString.linesIterator.nextOption().getOrElse("")
      if (head.contains("CreateTable") || head.contains("CreateDataSourceTableAsSelect") ||
          head.contains("InsertInto"))
        tableName.findFirstIn(head).foreach { t =>
          val key = if (buildTable.matches(t)) "artifact_build_s" else "artifact_maintain_s"
          counters.add(key, durationNs / 1e9)
        }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      counters.add("stream_batches", 1)
      counters.add("stream_input_rows", p.numInputRows.toDouble)
      counters.add("stream_state_rows", p.stateOperators.map(_.numRowsTotal).sum.toDouble)
      counters.add("stream_commit_ms", p.stateOperators.map(_.commitTimeMs).sum.toDouble)
      counters.add("stream_batch_s", p.batchDuration / 1e3)
    }
  }

  def start(): Unit = {
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def drain(): Unit = BenchAccess.drainListeners(spark.sparkContext)

  /** Milliseconds of [t0, t1] covered by at least one finished job. */
  def jobCoveredMs(t0: Double, t1: Double): Double = synchronized {
    val iv = jobIntervals.iterator
      .map { case (a, b) => (math.max(a.toDouble, t0), math.min(b.toDouble, t1)) }
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
    var covered = 0.0
    var (cs, ce) = (Double.NaN, Double.NaN)
    iv.foreach { case (a, b) =>
      if (cs.isNaN || a > ce) {
        if (!cs.isNaN) covered += ce - cs
        cs = a; ce = b
      } else ce = math.max(ce, b)
    }
    if (!cs.isNaN) covered += ce - cs
    covered
  }

  def spansJson: String = synchronized {
    spans.map(s =>
      s"""{"id":${s.id},"parent":${s.parent},"kind":${Json.str(s.kind)},"name":${Json.str(s.name)},"start":${s.start},"end":${s.end}}""")
      .mkString("[", ",\n", "]")
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "null" else x.toString
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
