package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** Settings passed by `run.py` as `key=value` arguments. */
final case class Args(kv: Map[String, String]) {
  private def s(k: String) = kv.getOrElse(k, sys.error(s"missing argument $k"))
  def workload: String = s("workload")
  def seed: Long = s("seed").toLong
  def seconds: Double = s("seconds").toDouble
  def trace: Boolean = s("trace") == "1"
  def cores: Int = s("cores").toInt
  def setups: Int = s("setups").toInt
  def data: String = s("data")
  def checkData: String = s("check_data")
  def work: String = s("work")
  def out: String = s("out")
  def queries: Seq[String] = s("queries").split(",").toSeq
  def setupQuery: String = s("setup_query")
  def config: String = s("config")
  def streamBatches: String = s("stream_batches")
  def batchDocs: Int = s("batch_docs").toInt
  def opTimeoutS: Long = s("op_timeout_s").toLong
}

object Args {
  def parse(argv: Array[String]): Args =
    Args(argv.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap)
}

/** Closed-loop client: one thread runs the workload's ops back to back.
  *
  * A run is: set-up `setups` times (fresh session + the workload's
  * set-up op; the median is `setup_s`), discarded warm-up rounds, the
  * measured rounds, then the correctness check (which a workload may
  * also run in a warm-up round). A traced run measures three rounds and
  * records only the middle one; the difference between its wall time
  * and that of the untraced two is the tracing overhead.
  */
object Main {
  def session(a: Args): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName(s"graftbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // Spark's default cache of generated classes (100) is smaller than
      // the batch round's set, so rounds evicted and recompiled classes
      // in an order-dependent way; a cache that holds the set keeps the
      // warm state steady
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", new File(a.work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(a.work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  def median(xs: Iterable[Double]): Double = percentile(xs, 0.5)

  /** Linear-interpolated percentile (numpy's default). */
  def percentile(xs: Iterable[Double], p: Double): Double = {
    val v = xs.toIndexedSeq.sorted
    if (v.isEmpty) Double.NaN
    else {
      val pos = p * (v.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, v.size - 1)
      v(lo) + (v(hi) - v(lo)) * (pos - lo)
    }
  }

  /** CPU seconds of every thread of this JVM: tasks, driver, GC, JIT. */
  def cpuSeconds(): Double = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  def jitSeconds(): Double = ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3
  /** Classes Spark's code generator has compiled in this JVM. */
  def codegenCount(): Double =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble

  /** One measured op: wall and JVM CPU seconds, GC and JIT-compiler
    * seconds, and generated classes compiled while it ran.
    */
  final case class Sample(round: Int, id: String, seconds: Double, out: OpOut,
      cpuS: Double, gcS: Double, jitS: Double, codegen: Double)

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val spans = new Spans
    val wl: Workload = a.workload match {
      case "batch" => new BatchWorkload(a)
      case "stream_curation" => new StreamWorkload(a)
      case w => sys.error(s"unknown workload $w")
    }

    // set-up, several times; the last session is kept for the rounds
    var spark: SparkSession = null
    val setupS = (1 to a.setups).map { _ =>
      if (spark != null) { wl.tearDown(Ctx(spark, spans, -1)); spark.stop() }
      val t0 = System.nanoTime()
      spark = session(a)
      spark.sparkContext.setLocalProperty(Tags.Round, "-1")
      wl.setUp(Ctx(spark, spans, -1))
      (System.nanoTime() - t0) / 1e9
    }
    val sc = spark.sparkContext

    // rounds below `warm` are warm-up; when tracing, every second
    // measured round is the traced one
    val warm = wl.warmRounds
    def measured(r: Int) = r >= warm
    def traced(r: Int) = a.trace && measured(r) && (r - warm) % 2 == 1
    val listener = new LayerListener(traced)
    val progress = new ProgressListener(b => wl match {
      case s: StreamWorkload => Option(s.batchRound.get(b)).map(_.intValue).filter(traced)
      case _ => None
    })
    // the job listener is attached for traced rounds only; streaming
    // progress arrives after its fold, so that listener stays on
    if (a.trace) spark.streams.addListener(progress)

    val samples = mutable.ArrayBuffer[Sample]()
    val errors = mutable.ArrayBuffer[String]()
    val roundLayers = mutable.LinkedHashMap[Int, Map[String, Double]]()
    var attempted, failed = 0
    // The window is `seconds` of nominal round time: a fixed number of
    // whole rounds. Each round still runs faster than the one before, so
    // stopping on the clock would make the sample count, and with it
    // every median, depend on the machine's speed. Tracing runs three
    // rounds: two untraced ones bracket the traced one, so the overhead
    // is not confounded with warm-up.
    val rounds = warm + (if (a.trace) 3 else math.max(1, (a.seconds / wl.nominalRoundS).toInt))
    val warmStart = System.nanoTime()
    var measureStart = warmStart
    var warmS = 0.0
    var r = 0
    while (r < rounds) {
      if (r == warm) {
        measureStart = System.nanoTime()
        warmS = (measureStart - warmStart) / 1e9
      }
      sc.setLocalProperty(Tags.Round, r.toString)
      val ctx = Ctx(spark, spans, r)
      val gc0 = gcSeconds()
      if (traced(r)) sc.addSparkListener(listener)
      var ok = true
      for (id <- wl.round(r)) {
        val t0 = System.nanoTime()
        val c0 = cpuSeconds()
        val g0 = gcSeconds()
        val j0 = jitSeconds()
        val cg0 = codegenCount()
        try {
          val out = wl.op(ctx, id)
          if (measured(r))
            samples += Sample(r, id, (System.nanoTime() - t0) / 1e9, out, cpuSeconds() - c0,
              gcSeconds() - g0, jitSeconds() - j0, codegenCount() - cg0)
        } catch {
          // a failed op is counted and left out of every timing
          case e: Throwable =>
            ok = false
            if (measured(r)) failed += 1
            errors += s"round $r op $id: ${e.getClass.getSimpleName}: ${e.getMessage}"
        }
        if (measured(r)) attempted += 1
      }
      if (traced(r)) {
        org.apache.spark.graftbench.BusDrain(sc)
        sc.removeSparkListener(listener)
        if (ok) roundLayers(r) = layerValues(r, spans, listener, wl, gcSeconds() - gc0)
      }
      wl.layers.values.clear()
      r += 1
    }
    sc.setLocalProperty(Tags.Round, null)

    // the context cleaner drops unreferenced broadcasts and shuffles
    // after a GC; give it time before the last one
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(300) }
    val heap = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    val stateLayers = wl.stateLayers()

    val measuredAt = System.nanoTime()
    val checkFailures =
      try wl.check(Ctx(spark, spans, -2))
      catch { case e: Throwable => Seq(s"check threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
    try wl.tearDown(Ctx(spark, spans, -2)) catch { case _: Throwable => () }
    if (a.trace) Thread.sleep(200) // let the last streaming progress event land

    val phaseS = Map("setup" -> setupS.sum, "warm" -> warmS,
      "measured" -> (measuredAt - measureStart) / 1e9,
      "check" -> (System.nanoTime() - measuredAt) / 1e9)
    def wall(ss: Iterable[Sample]) =
      wl.wall(ss.groupBy(_.id).map { case (k, xs) => k -> median(xs.map(_.seconds)) })
    val untraced = samples.filter(s => !traced(s.round))
    val byId = untraced.groupBy(_.id).values
    val perId = byId.map(ss => median(ss.map(_.seconds)))
    // rows per second of one round, from each op's medians
    val roundRows = byId.map(ss => median(ss.map(_.out.rows.toDouble))).sum
    val roundRateS = byId.map(ss => median(ss.map(s =>
      if (s.out.rateS.isNaN) s.seconds else s.out.rateS))).sum
    val endToEnd = Map(
      "setup_s" -> median(setupS),
      "wall_s" -> wall(untraced),
      "op_geomean_s" -> math.exp(perId.map(math.log).sum / perId.size),
      "rows_per_s" -> roundRows / roundRateS,
      "heap_retained_mb" -> heap)

    val layers: Map[String, Double] =
      if (!a.trace) Map.empty
      else {
        // streaming progress arrives on its own bus, after the fold
        val perRound = roundLayers.map { case (r, m) =>
          m ++ progress.perRound.get(r).map(_.values.toMap).getOrElse(Map.empty)
        }
        val keys = perRound.flatMap(_.keys).toSeq.distinct
        val reads = untraced.flatMap(_.out.reads)
        keys.map(k => k -> median(perRound.map(_.getOrElse(k, 0.0)))).toMap ++
          stateLayers ++ Map(
            "FromState.p50_s" -> (if (reads.isEmpty) 0.0 else percentile(reads, 0.5)),
            "FromState.p90_s" -> (if (reads.isEmpty) 0.0 else percentile(reads, 0.9)),
            "trace.overhead_s" -> (wall(samples.filter(s => traced(s.round))) - wall(untraced)),
            "trace.untraced_wall_s" -> wall(untraced))
      }

    Json.write(new File(a.out), Map(
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace,
      "setup_runs_s" -> setupS, "rounds" -> (rounds - warm),
      "samples" -> samples.size, "attempted" -> attempted, "failed" -> failed,
      "errors" -> errors.toSeq, "check_failures" -> checkFailures, "phase_s" -> phaseS,
      "op_median_s" -> samples.groupBy(_.id).map { case (k, ss) => k -> median(ss.map(_.seconds)) },
      "op_samples_s" -> samples.map(s => Seq(s.round, s.id, s.seconds, s.cpuS, s.gcS, s.jitS, s.codegen)),
      "end_to_end" -> endToEnd, "layers" -> layers))
    Json.write(new File(new File(a.out).getParentFile, s"spans-${a.workload}.json"),
      spans.all.map(s => Map("id" -> s.id, "name" -> s.name, "layer" -> s.layer,
        "round" -> s.round, "parent" -> s.parent, "start_ns" -> s.start, "end_ns" -> s.end)))
    spark.stop()
  }

  /** Per-layer figures of one traced round, from the listener counters,
    * the spans and the workload's own counters.
    */
  def layerValues(round: Int, spans: Spans, l: LayerListener, wl: Workload,
      gcS: Double): Map[String, Double] = {
    val c = l.perRound.getOrElse(round, new Counters)
    val inRound = spans.all.filter(_.round == round)
    def spanS(layer: String) = inRound.filter(_.layer == layer).map(s => (s.end - s.start) / 1e9).sum
    val builds = inRound.filter(_.layer == "build")
    def both(k: String) = c.get(s"Tables.t.$k") + c.get(s"ops.eager.$k")
    def jobs(s: Span) = l.spanJobs.getOrElse(s.id.toString, 0).toDouble
    def jobsPerOp(ss: Seq[Span]) = if (ss.isEmpty) 0.0 else ss.map(jobs).sum / ss.size
    val (sqlBuilds, corpusBuilds) = builds.partition(s => SqlFamilies.matches(s.name))
    // job seconds stand for the build sub-layers; other layers take the
    // seconds of their spans
    val fromListener = c.values.toMap.filterNot(_._1.endsWith(".job_s")) ++ Map(
      "Tables.t.s" -> c.get("Tables.t.job_s"), "ops.eager.s" -> c.get("ops.eager.job_s"))
    val own = wl.layers.values.toMap
    val componentsS = own.getOrElse("components.s", 0.0)
    fromListener ++ own - "components.s" - "runner.s" ++ Map(
      "SparkEntry.build.s" -> builds.map(s => (s.end - s.start) / 1e9).sum,
      "SparkEntry.build.jobs" -> both("jobs"),
      "SparkEntry.build.tasks" -> both("tasks"),
      "SparkEntry.build.task_cpu_s" -> both("task_cpu_s"),
      "SparkEntry.build.eager_queries" -> builds.count(jobs(_) > 2).toDouble,
      "SparkEntry.build.jobs_per_op" -> jobsPerOp(builds),
      "SparkEntry.build.sql_jobs_per_op" -> jobsPerOp(sqlBuilds),
      "SparkEntry.build.corpus_jobs_per_op" -> jobsPerOp(corpusBuilds),
      "catalyst.plan.s" -> spanS("plan"),
      "exec.s" -> spanS("exec"),
      "processBatch.s" -> spanS("processBatch"),
      "FromState.s" -> spanS("FromState"),
      "runner.overhead_s" -> (own.getOrElse("runner.s", 0.0) - componentsS),
      "components.lazy_count" -> wl.componentSpans(round).count(k => !l.spanJobs.contains(k)).toDouble,
      "jvm.gc_s" -> gcS)
  }
}

/** Relational, data-quality, multimodal and packing families; every
  * other registered family is corpus work.
  */
object SqlFamilies {
  private val re = "^(q[0-9]|dq_|mm_|pack_).*".r
  def matches(spanName: String): Boolean = re.matches(spanName)
}

/** Minimal JSON writer for maps, sequences, strings and numbers. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => render(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => render(other.toString)
  }
  def write(f: File, v: Any): Unit =
    java.nio.file.Files.write(f.toPath, render(v).getBytes("UTF-8"))
}
