package graftbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** A span: one call the benchmark makes into a layer. Spans are kept in
  * memory and written out when the run ends.
  */
final case class Span(id: Int, name: String, layer: String, round: Int, parent: Int,
    start: Long, end: Long)

/** Per-layer counters, keyed by metric name, summed over one round. */
final class Counters {
  val values: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap()
  def add(k: String, v: Double): Unit = synchronized {
    values(k) = values.getOrElse(k, 0.0) + v
  }
  def get(k: String): Double = synchronized(values.getOrElse(k, 0.0))
}

/** SparkContext local-property keys that tag every job. */
object Tags {
  val Layer = "graftbench.layer"
  val Round = "graftbench.round"
  val SpanId = "graftbench.span"
}

/** Records the benchmark's calls into the program as spans and tags the
  * jobs of each call with its layer and span. Tags travel as local
  * properties, so every job a call launches (eager construction jobs
  * included) is attributed to the call that caused it.
  */
final class Spans {
  private val buf = mutable.ArrayBuffer[Span]()
  private val stack = new ThreadLocal[List[Int]] { override def initialValue = Nil }
  private var next = 0

  def apply[T](sc: SparkContext, name: String, layer: String)(f: => T): T = {
    val id = synchronized { next += 1; next }
    val parent = stack.get.headOption.getOrElse(0)
    val round = Option(sc.getLocalProperty(Tags.Round)).map(_.toInt).getOrElse(-1)
    val prevLayer = sc.getLocalProperty(Tags.Layer)
    val prevSpan = sc.getLocalProperty(Tags.SpanId)
    sc.setLocalProperty(Tags.Layer, layer)
    sc.setLocalProperty(Tags.SpanId, id.toString)
    stack.set(id :: stack.get)
    val t0 = System.nanoTime()
    try f
    finally {
      val t1 = System.nanoTime()
      stack.set(stack.get.tail)
      sc.setLocalProperty(Tags.Layer, prevLayer)
      sc.setLocalProperty(Tags.SpanId, prevSpan)
      synchronized { buf += Span(id, name, layer, round, parent, t0, t1) }
    }
  }

  def all: Seq[Span] = synchronized(buf.toList)
}

/** SparkListener that sums job, stage and task figures per layer for the
  * rounds it is told to record. A build job whose call stack passes
  * through `graft.Tables.t` is a parquet-schema job (`Tables.t`); any
  * other build job is an eager construction job (`ops.eager`).
  */
final class LayerListener(record: Int => Boolean) extends SparkListener {
  private final case class Tag(layer: String, round: Int)
  private val jobs = mutable.Map[Int, (Tag, Long)]()
  private val stages = mutable.Map[Int, Tag]()
  val perRound: mutable.Map[Int, Counters] = mutable.Map()
  /** Jobs launched under each span id. */
  val spanJobs: mutable.Map[String, Int] = mutable.Map()

  private def counters(round: Int) = perRound.getOrElseUpdate(round, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    val round = prop(Tags.Round).map(_.toInt).getOrElse(-1)
    for (base <- prop(Tags.Layer) if record(round)) {
      val layer =
        if (base != "build") base
        else if (e.stageInfos.exists(_.details.contains("graft.Tables$.t("))) "Tables.t"
        else "ops.eager"
      val tag = Tag(layer, round)
      jobs(e.jobId) = (tag, e.time)
      e.stageIds.foreach(stages(_) = tag)
      counters(round).add(s"$layer.jobs", 1)
      prop(Tags.SpanId).foreach(s => spanJobs(s) = spanJobs.getOrElse(s, 0) + 1)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.remove(e.jobId).foreach { case (t, start) =>
      counters(t.round).add(s"${t.layer}.job_s", (e.time - start) / 1e3)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages.get(e.stageInfo.stageId).foreach(t => counters(t.round).add(s"${t.layer}.stages", 1))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (t <- stages.get(e.stageId); m <- Option(e.taskMetrics)) {
      val c = counters(t.round)
      val l = t.layer
      val mb = 1.0 / (1 << 20)
      c.add(s"$l.tasks", 1)
      c.add(s"$l.task_cpu_s", m.executorCpuTime / 1e9)
      c.add(s"$l.task_gc_s", m.jvmGCTime / 1e3)
      c.add(s"$l.task_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
      c.add(s"$l.input_mb", m.inputMetrics.bytesRead * mb)
      c.add(s"$l.input_rows", m.inputMetrics.recordsRead.toDouble)
      c.add(s"$l.output_mb", m.outputMetrics.bytesWritten * mb)
      c.add(s"$l.shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead * mb)
      c.add(s"$l.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten * mb)
      c.add(s"$l.spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) * mb)
    }
  }
}

/** Streaming progress durations of the folds the benchmark records. */
final class ProgressListener(record: Long => Option[Int]) extends StreamingQueryListener {
  import StreamingQueryListener._
  val perRound: mutable.Map[Int, Counters] = mutable.Map()
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = synchronized {
    record(e.progress.batchId).foreach { round =>
      val c = perRound.getOrElseUpdate(round, new Counters)
      val d = e.progress.durationMs
      def s(k: String) = Option(d.get(k)).map(_.longValue / 1e3).getOrElse(0.0)
      c.add("StreamingPipeline.trigger_s", s("triggerExecution"))
      c.add("StreamingPipeline.latest_offset_s", s("latestOffset"))
      c.add("StreamingPipeline.query_planning_s", s("queryPlanning"))
      c.add("StreamingPipeline.wal_commit_s", s("walCommit"))
    }
  }
}
