package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Benchmark harness: runs one workload's queries in a fresh local[4]
  * session as a single closed-loop client (each query starts when the
  * previous one finished), times them from outside the program, and writes
  * a result file that `run.py` turns into the benchmark's summary line.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1
  *             --data DIR --run-dir DIR --launched-ms EPOCH_MS
  *
  * A run is: the set-up (session + input registration), timed from the
  * JVM's launch; one cold pass, in the workload's listed order, that writes
  * every query's output under `<run-dir>/out` for the checks; one untimed
  * check pass that writes every output again under `<run-dir>/out-warm`,
  * so that the outputs of a warm session (artifacts reused, maintenance
  * applied again) are checked too, and that takes the JIT's settling out of
  * the timed warm passes; then warm passes (noop sink), at least one, until
  * their summed query time reaches `--seconds`. Check and warm passes
  * shuffle the query order from the seed. With `--trace 1` every query,
  * build, drain, layer call and stage prefix is a span, and the Spark
  * listeners in [[Trace]] give the per-layer counters.
  */
object Main {
  type Builder = (SparkSession, String) => DataFrame
  private val originMs = System.currentTimeMillis().toDouble
  private val originNs = System.nanoTime()
  def nowMs: Double = originMs + (System.nanoTime() - originNs) / 1e6
  val cores = 4

  final case class Args(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, data: String, runDir: Path, launchedMs: Double)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m.getOrElse("trace", "0") == "1", m("data"), Paths.get(m("run-dir")),
      m("launched-ms").toDouble)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val wl = Workloads.byName(a.workload)
    val spark = session(a.runDir)
    registerInputs(spark, a.data)
    val setupS = (nowMs - a.launchedMs) / 1e3
    val oracle = wl.queries.flatMap(q => graft.SparkEntry.oracleSql.get(q).map(q -> Json.str(_)))
    Files.write(a.runDir.resolve("oracle_sql.json"),
      Json.obj(oracle).getBytes(StandardCharsets.UTF_8))
    val result = new Runner(spark, a, wl).run(setupS)
    val json = Json.obj(result)
    Files.write(a.runDir.resolve("result.json"), json.getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  def session(runDir: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", runDir.resolve("warehouse").toString)
      .config("spark.local.dir", runDir.resolve("local").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Resolve every input table's files and footer schema. */
  def registerInputs(spark: SparkSession, dir: String): Unit =
    graft.Tables.names.foreach(t => spark.read.parquet(s"$dir/$t.parquet").schema)
}

/** One timed call: its name, seconds in `fn(spark, dir)` and in the sink,
  * and with tracing the listener-counter deltas it caused. */
final case class Timed(name: String, build: Double, drain: Double,
                       counters: Map[String, Double] = Map.empty) {
  def total: Double = build + drain
}

/** One pass: query seconds, the traced layer calls as (name, seconds,
  * jobs), listener-counter deltas and the state probe's findings. */
final case class PassResult(wall: Double, calls: Seq[Timed], layerCalls: Seq[(String, Double, Double)],
                            counters: Map[String, Double], outsideJobsS: Double,
                            storageMb: Double, cachedPlans: Int, confLeaks: Int,
                            streamRows: Double, streamS: Double)

/** What a pass is for, and where it writes its outputs (None: noop). */
sealed abstract class PassKind(val name: String, val outDir: Option[String])
case object Cold extends PassKind("cold", Some("out"))
case object Warm extends PassKind("warm", None)
case object Check extends PassKind("check", Some("out-warm"))

final class Runner(spark: SparkSession, a: Main.Args, wl: Workload) {
  private val trace: Option[Trace] = if (a.trace) Some(new Trace(spark)) else None
  private val sc = spark.sparkContext
  private val baseConf = spark.conf.getAll
  private var attempted = 0
  private val failures = mutable.ArrayBuffer.empty[String]
  private var maxLiveHeapMb = 0.0
  private var pass = 0
  private var spanRun = 0

  /** Epoch milliseconds at nanosecond resolution. */
  private def nowMs: Double = Main.nowMs

  /** Heap in use right after a forced collection: the retained live set. */
  private def liveHeapMb(): Double = {
    System.gc()
    val h = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
    h.getUsed / 1e6
  }

  private def storageMb(): Double =
    sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1e6

  /** Plans registered in the cache manager (its private `cachedData`). */
  private def cachedPlans(): Int = {
    val cm = spark.sharedState.cacheManager
    cm.getClass.getDeclaredFields.find(_.getName.endsWith("cachedData")).map { f =>
      f.setAccessible(true)
      f.get(cm).asInstanceOf[scala.collection.Iterable[_]].size
    }.getOrElse(if (cm.isEmpty) 0 else 1)
  }

  private def confLeaks(): Int = {
    val now = spark.conf.getAll
    (now.keySet ++ baseConf.keySet).count(k => now.get(k) != baseConf.get(k))
  }

  private def describe(e: Throwable): String = {
    val root = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last
    val msg = Option(root.getMessage).getOrElse("").linesIterator.take(1).mkString.take(300)
    s"${root.getClass.getName}: $msg"
  }

  def run(setupS: Double): Seq[(String, String)] = {
    trace.foreach(_.start())
    val runStart = nowMs
    spanRun = trace.map(_.newId()).getOrElse(0)
    val queries = wl.queries.map(n => n -> graft.SparkEntry.queries(n))
    val passes = mutable.ArrayBuffer(runPass(queries, Cold))
    runPass(queries, Check)
    // warm passes until their query time reaches --seconds (the traced
    // run's layer calls beside the first one do not count)
    do {
      pass += 1
      passes += runPass(queries, Warm)
    } while (passes.tail.map(_.wall).sum < a.seconds)
    val runEnd = nowMs
    trace.foreach(_.record(Span(spanRun, 0, "run", wl.name, runStart, runEnd)))
    val warm = passes.tail
    val metrics = Seq(
      "setup_s" -> setupS,
      "cold_pass_s" -> passes.head.wall,
      "warm_pass_s" -> Stats.median(warm.map(_.wall).toSeq),
      "query_geomean_s" -> Stats.geomean(wl.queries.map(q =>
        Stats.median(warm.flatMap(_.calls.find(_.name == q)).map(_.total).toSeq))),
      "live_heap_mb" -> maxLiveHeapMb)
    val layer = if (trace.isEmpty) Seq.empty else perLayer(passes.toSeq)
    trace.foreach(t => Files.write(a.runDir.resolve("spans.json"),
      t.spansJson.getBytes(StandardCharsets.UTF_8)))
    def queryMedian(q: String, f: Timed => Double): Double =
      Stats.median(warm.flatMap(_.calls.find(_.name == q)).map(f).toSeq)
    val perQuery = wl.queries.map(q => q -> Json.num(queryMedian(q, _.total)))
    val queryLayers = if (trace.isEmpty) Seq.empty else wl.queries.map(q => q -> Json.obj(
      Seq("jobs", "tasks", "executor_run_s", "plan_s", "task_wait_s", "stream_input_rows")
        .map(k => k -> Json.num(queryMedian(q, _.counters(k))))))
    Seq(
      "workload" -> Json.str(wl.name),
      "pass_s" -> passes.map(p => Json.num(p.wall)).mkString("[", ",", "]"),
      "attempted" -> attempted.toString,
      "failed" -> failures.size.toString,
      "failures" -> failures.map(Json.str).mkString("[", ",", "]"),
      "metrics" -> Json.obj(metrics.map { case (k, v) => k -> Json.num(v) }),
      "per_layer" -> Json.obj(layer.map { case (k, v) => k -> Json.num(v) }),
      "query_s" -> Json.obj(perQuery),
      "query_layers" -> Json.obj(queryLayers),
      "checks" -> Json.obj(checks.map { case (k, v) => k -> Json.str(v) }))
  }

  /** Property-check verdicts of the layer calls: name -> "ok" or the fault. */
  private val checks = mutable.LinkedHashMap.empty[String, String]

  private def runPass(queries: Seq[(String, Main.Builder)], kind: PassKind): PassResult = {
    val order = if (kind == Cold) queries else new Random(a.seed * 1000003L + pass).shuffle(queries)
    val sink = kind.outDir.map(d => a.runDir.resolve(d))
    val passId = trace.map(_.newId()).getOrElse(0)
    trace.foreach(_.drain())
    val before = trace.map(_.counters.snapshot()).getOrElse(Map.empty)
    var storage = 0.0
    var cached = 0
    var streamRows = 0.0
    var streamS = 0.0
    val calls = mutable.ArrayBuffer.empty[Timed]
    val passStart = nowMs
    var wall = 0.0
    order.foreach { case (name, fn) =>
      val heap = liveHeapMb()
      if (kind == Warm) maxLiveHeapMb = math.max(maxLiveHeapMb, heap)
      val q0 = trace.map { t => t.drain(); t.counters.snapshot() }
      val c0 = queryCall(passId, name, fn, s"${kind.name}/$name", sink match {
        case Some(dir) => df => df.write.mode("overwrite").parquet(dir.resolve(name).toString)
        case None => df => df.write.mode("overwrite").format("noop").save()
      })
      wall += c0.total
      val c = trace.fold(c0) { t =>
        t.drain()
        val delta = t.counters.snapshot().map { case (k, v) => k -> (v - q0.get(k)) }
        val rows = delta("stream_input_rows")
        if (rows > 0) { streamRows += rows; streamS += c0.total }
        storage = math.max(storage, storageMb())
        cached = math.max(cached, cachedPlans())
        c0.copy(counters = delta)
      }
      calls += c
    }
    val passEnd = nowMs
    if (kind == Warm) maxLiveHeapMb = math.max(maxLiveHeapMb, liveHeapMb())
    trace.foreach(_.record(Span(passId, spanRun, "pass", s"${kind.name} $pass", passStart, passEnd)))
    val leaks = confLeaks()
    trace.foreach(_.drain())
    val after = trace.map(_.counters.snapshot()).getOrElse(Map.empty)
    val delta = after.map { case (k, v) => k -> (v - before(k)) }
    // jobs run only inside queries, so the queries' job-free time is their
    // summed time minus what jobs covered of the pass
    val outside = trace.map(t => wall - t.jobCoveredMs(passStart, passEnd) / 1e3).getOrElse(0.0)
    val layerCalls = if (trace.isDefined && kind == Warm && pass == 1) runLayerCalls() else Seq.empty
    spark.sharedState.cacheManager.clearCache()
    PassResult(wall, calls.toSeq, layerCalls, delta, outside, storage, cached, leaks, streamRows, streamS)
  }

  /** Build `fn`, then drain it into `sink`: one attempted operation,
    * whose failure is kept under `label`, and with tracing a query span
    * with build and drain children whose jobs carry its id as their job
    * group. */
  private def queryCall(parent: Int, name: String, fn: Main.Builder, label: String,
                        sink: DataFrame => Unit, kind: String = "query"): Timed = {
    attempted += 1
    val Seq(qid, bid, did) = Seq.fill(3)(trace.map(_.newId()).getOrElse(0))
    def group(id: Int, what: String): Unit =
      if (trace.isDefined) sc.setJobGroup(id.toString, s"$what $name", interruptOnCancel = false)
    val t0 = nowMs
    var (bt1, dt1) = (t0, t0)
    val ok = try {
      group(bid, "build")
      val df = fn(spark, a.data)
      bt1 = nowMs
      group(did, "drain")
      sink(df)
      dt1 = nowMs
      true
    } catch {
      case e: Throwable => failures += s"$label: ${describe(e)}"; false
    } finally if (trace.isDefined) sc.clearJobGroup()
    trace.foreach { t =>
      t.record(Span(qid, parent, kind, name, t0, nowMs))
      t.record(Span(bid, qid, "build", name, t0, bt1))
      if (ok) t.record(Span(did, qid, "drain", name, bt1, dt1))
    }
    Timed(name, (bt1 - t0) / 1e3, math.max(0.0, dt1 - bt1) / 1e3)
  }

  /** Layer calls and stage prefixes of the traced run, timed once each
    * beside the queries of the first warm pass: (name, seconds, jobs). A
    * call with a property check drains by collecting its rows, which are
    * then checked untimed; the others drain into the noop sink. Warm-up
    * calls run once untimed first. */
  private def runLayerCalls(): Seq[(String, Double, Double)] = {
    wl.layerCalls.filter(_.warmup).foreach { lc =>
      queryCall(spanRun, lc.name, lc.fn, s"warmup/${lc.name}",
        df => df.write.mode("overwrite").format("noop").save(), kind = "warmup")
    }
    wl.layerCalls.map { lc =>
      val t = trace.get
      t.drain()
      val jobs0 = t.counters.snapshot()("jobs")
      var rows: Option[Array[Row]] = None
      val sink: DataFrame => Unit =
        if (lc.check.isDefined) df => rows = Some(df.collect())
        else df => df.write.mode("overwrite").format("noop").save()
      val c = queryCall(spanRun, lc.name, lc.fn, s"layer/${lc.name}", sink, kind = "layer")
      t.drain()
      val jobs = t.counters.snapshot()("jobs") - jobs0
      for (check <- lc.check; rs <- rows) {
        attempted += 1
        try checks(lc.name) = check(spark, a.data, rs).getOrElse("ok")
        catch { case e: Throwable => failures += s"check/${lc.name}: ${describe(e)}" }
      }
      (lc.name, c.total, jobs)
    }
  }

  private def perLayer(passes: Seq[PassResult]): Seq[(String, Double)] = {
    val warm = passes.tail
    def med(f: PassResult => Double): Double = Stats.median(warm.map(f))
    val counters = Seq("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
      "task_wait_s", "gc_s", "shuffle_write_mb", "shuffle_read_mb", "spill_mb", "plan_s")
      .map(k => s"spark.$k" -> med(_.counters(k)))
    val wall = med(_.wall)
    val state = Seq(
      "spark.overhead_share" -> (med(_.counters("plan_s")) + med(_.outsideJobsS)) / wall,
      "spark.executor_busy_share" -> med(_.counters("executor_run_s")) / (Main.cores * wall),
      "spark.outside_jobs_s" -> med(_.outsideJobsS),
      "spark.storage_retained_mb" -> med(_.storageMb),
      "spark.cached_plans" -> med(_.cachedPlans.toDouble),
      "spark.conf_leaks" -> med(_.confLeaks.toDouble))
    val queries = Seq(
      "queries.build_s" -> med(_.calls.map(_.build).sum),
      "queries.drain_s" -> med(_.calls.map(_.drain).sum),
      "queries.cold_build_s" -> passes.head.calls.map(_.build).sum)
    val sources = Seq(
      "sources.artifact_build_s" -> med(_.counters("artifact_build_s")),
      "sources.artifact_build_cold_s" -> passes.head.counters("artifact_build_s"),
      "sources.artifact_maintain_s" -> med(_.counters("artifact_maintain_s")),
      "sources.written_mb" -> med(_.counters("written_mb")),
      "sources.warehouse_mb" -> Stats.dirBytes(a.runDir.resolve("warehouse")) / 1e6)
    val streaming = Seq(
      "streaming.batches" -> med(_.counters("stream_batches")),
      "streaming.input_rows" -> med(_.counters("stream_input_rows")),
      "streaming.state_rows" -> med(_.counters("stream_state_rows")),
      "streaming.commit_ms" -> med(_.counters("stream_commit_ms")),
      "streaming.batch_s" -> med(_.counters("stream_batch_s")),
      "streaming.rows_per_s" -> {
        val s = warm.map(_.streamS).sum
        if (s > 0) warm.map(_.streamRows).sum / s else 0.0
      })
    val calls = passes(1).layerCalls
    def lc(n: String): Double = calls.find(_._1 == n).map(_._2).getOrElse(0.0)
    def lcJobs(n: String): Double = calls.find(_._1 == n).map(_._3).getOrElse(0.0)
    val layers = Workloads.layerSeconds.map { case (metric, call, prev) =>
      metric -> (lc(call) - (if (prev.isEmpty) 0.0 else lc(prev)))
    } ++
      GraphCalls.algs.map(alg => s"graph.${alg}_jobs" -> lcJobs(s"graph.$alg"))
    counters ++ state ++ queries ++ sources ++ streaming ++ layers
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
  def geomean(xs: Seq[Double]): Double =
    math.exp(xs.map(x => math.log(math.max(x, 1e-6))).sum / xs.size)
  def dirBytes(p: Path): Double =
    if (!Files.exists(p)) 0.0
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum().toDouble
      finally s.close()
    }
}
