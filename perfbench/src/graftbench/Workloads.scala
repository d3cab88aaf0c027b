package graftbench

import java.io.File
import java.util.concurrent.{ConcurrentHashMap, LinkedBlockingQueue, TimeUnit}
import scala.collection.mutable
import scala.util.Random
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.SparkEntry

/** What the main loop hands a workload: the live session, the span
  * recorder and the round being run (rounds below `warmRounds` are
  * discarded).
  */
final case class Ctx(spark: SparkSession, spans: Spans, round: Int) {
  def span[T](name: String, layer: String)(f: => T): T =
    spans(spark.sparkContext, name, layer)(f)
}

/** Result of one op. `rows` is what the op emitted (result rows,
  * documents folded, sink rows); `rateS` the seconds those rows are
  * charged to; `reads` the latencies of state readers, if any.
  */
final case class OpOut(rows: Long, rateS: Double = Double.NaN, reads: Seq[Double] = Nil)

trait Workload {
  /** Op ids of round `r`, in seeded order. */
  def round(r: Int): Seq[String]
  /** Prepare a fresh session; the set-up window times this call. */
  def setUp(ctx: Ctx): Unit
  def op(ctx: Ctx, id: String): OpOut
  /** Correctness check outside the timed window; returns failures. */
  def check(ctx: Ctx): Seq[String]
  def tearDown(ctx: Ctx): Unit = ()
  /** Rounds run and discarded before the measuring window opens. */
  def warmRounds: Int = 1
  /** A round's cost on the reference machine (DESIGN.md): the window
    * holds `seconds / nominalRoundS` whole rounds, at least one.
    */
  def nominalRoundS: Double
  /** Seconds of one round, from the per-op medians. */
  def wall(perOp: Map[String, Double]): Double = perOp.values.sum
  /** Per-layer figures the workload counts itself; cleared each round. */
  val layers = new Counters
  /** Span ids of the pipeline components run in round `r`. */
  def componentSpans(r: Int): Seq[String] = Nil
  /** Sizes of persisted state at the end of the run. */
  def stateLayers(): Map[String, Double] = Map.empty
}

/** The batch workload: each query op builds one registered query,
  * forces its physical plan and executes it; the `pipeline` op runs the
  * generated HOCON ETL config through `SimplePipelineRunner`.
  */
final class BatchWorkload(args: Args) extends Workload {
  import graft.core.config.ConfigLoader
  import graft.runner._

  private val registry = SparkEntry.queries
  val queries: Seq[String] = args.queries
  require(queries.forall(registry.contains),
    s"unregistered queries: ${queries.filterNot(registry.contains).mkString(",")}")
  val Pipeline = "pipeline"
  val CheckOp = "check:"
  private def checkOut = new File(args.work, "check_out")
  private val checkFailures = mutable.ArrayBuffer[String]()
  def sinkDir: String = new File(args.work, "sink_etl").getPath
  /** Rows the ETL config writes, counted once, in the warm-up round. */
  private var sinkRows = -1L

  /** Round 1, the second of three warm-up rounds, is the correctness
    * check: it runs every query on the check-scale tables.
    */
  def round(r: Int): Seq[String] =
    if (r == 1) queries.map(CheckOp + _)
    else new Random(args.seed * 7919L + r).shuffle(queries :+ Pipeline)

  /** The JIT compiler is still busy for several rounds; with fewer
    * than three warm rounds the first measured ones ran visibly colder.
    */
  override def warmRounds: Int = 3
  def nominalRoundS: Double = 5.0

  /** The cheapest op of the set warms a fresh session. */
  def setUp(ctx: Ctx): Unit = op(ctx, args.setupQuery)

  def op(ctx: Ctx, id: String): OpOut =
    if (id == Pipeline) pipeline(ctx)
    else if (id.startsWith(CheckOp)) checkQuery(ctx, id.stripPrefix(CheckOp))
    else query(ctx, id)

  private def query(ctx: Ctx, q: String): OpOut = {
    val df = ctx.span(s"$q.build", "build")(registry(q)(ctx.spark, args.data))
    ctx.span(s"$q.plan", "plan")(df.queryExecution.executedPlan)
    // runs the plan just made: every output column is computed, as in
    // the noop sink, without the sink's second planning pass
    OpOut(ctx.span(s"$q.exec", "exec")(df.queryExecution.toRdd.count()))
  }

  private val components = mutable.ArrayBuffer[(Int, String)]()
  override def componentSpans(r: Int): Seq[String] =
    components.synchronized(components.filter(_._1 == r).map(_._2).toList)

  /** Tags each component's jobs with its type and times it. */
  private final class TagHooks(sc: org.apache.spark.SparkContext,
      cfg: graft.core.config.PipelineConfig) extends PipelineHooks {
    private var t0 = 0L
    private var outer: (String, String) = _
    private def kind(c: String) = cfg.component(c).map(_.componentType.name).getOrElse("other")
    override def beforeComponent(c: String): Unit = {
      outer = (sc.getLocalProperty(Tags.Layer), sc.getLocalProperty(Tags.SpanId))
      val id = s"component.$c.${System.nanoTime()}"
      val round = Option(sc.getLocalProperty(Tags.Round)).map(_.toInt).getOrElse(-1)
      components.synchronized(components += (round -> id))
      sc.setLocalProperty(Tags.Layer, s"components.${kind(c)}")
      sc.setLocalProperty(Tags.SpanId, id)
      t0 = System.nanoTime()
    }
    override def afterComponent(c: String, r: ComponentResult): Unit = {
      sc.setLocalProperty(Tags.Layer, outer._1)
      sc.setLocalProperty(Tags.SpanId, outer._2)
      val s = (System.nanoTime() - t0) / 1e9
      layers.add(s"components.${kind(c)}.s", s)
      layers.add("components.s", s)
    }
    override def onRetryAttempt(c: String, a: Int, e: Throwable, d: Double): Unit =
      layers.add("core.resilience.retries", 1)
  }

  private def pipeline(ctx: Ctx): OpOut = {
    val cfg = ctx.span("config", "core.config") {
      val c0 = System.nanoTime()
      val c = ConfigLoader.loadFile(args.config)
      layers.add("core.config.load_s", (System.nanoTime() - c0) / 1e9)
      c
    }
    val r0 = System.nanoTime()
    val result = ctx.span("run", "runner") {
      new SimplePipelineRunner(cfg, new TagHooks(ctx.spark.sparkContext, cfg),
        Some(ctx.spark)).run()
    }
    layers.add("runner.s", (System.nanoTime() - r0) / 1e9)
    if (result.status != PipelineStatus.Success)
      throw new RuntimeException(s"pipeline ${result.status}: ${result.errors.mkString("; ")}")
    if (sinkRows < 0) sinkRows = ctx.spark.read.parquet(sinkDir).count()
    OpOut(sinkRows)
  }

  /** Dumps a query run on the check-scale tables, for the DuckDB
    * comparison `run.py` makes after this process ends.
    */
  private def checkQuery(ctx: Ctx, q: String): OpOut = {
    try registry(q)(ctx.spark, args.checkData).write.mode("overwrite")
      .parquet(new File(checkOut, q).getPath)
    catch { case e: Throwable => checkFailures += s"$q: check run threw ${e.getMessage}" }
    OpOut(0)
  }

  /** The query dumps are written in round 1; the ETL sink of the last
    * measured run is compared by `run.py` too.
    */
  def check(ctx: Ctx): Seq[String] = {
    val oracles = SparkEntry.oracleSql
    Json.write(new File(checkOut, "oracle_sql.json"),
      queries.flatMap(q => oracles.get(q).map(q -> _)).toMap)
    Json.write(new File(checkOut, "selected_queries.json"), queries)
    checkFailures.toList
  }
}

/** The streaming workload: one op is one micro-batch fold through
  * `StreamingPipeline` (file source, `maxFilesPerTrigger=1`) into
  * `ForeachBatchSink(StreamingCuration.processBatch)`, followed by five
  * `*FromState` readers.
  */
final class StreamWorkload(args: Args) extends Workload {
  import graft.examples.StreamingCuration
  import graft.streaming._

  private val batches = new File(args.streamBatches).listFiles()
    .filter(_.getName.endsWith(".parquet")).sortBy(_.getName).toIndexedSeq
  private val schema = "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"
  private var session = 0
  private var next = 0
  private var query: org.apache.spark.sql.streaming.StreamingQuery = _
  private val done = new LinkedBlockingQueue[Either[Throwable, Long]]()
  /** Stream batch id -> benchmark round, for the progress listener. */
  val batchRound = new ConcurrentHashMap[java.lang.Long, Integer]()
  private def root = new File(args.work, s"stream_$session")
  def stateDir: String = new File(root, "state").getPath
  private def sourceDir = new File(root, "source")

  val readers: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "profileFromState" -> ((s, d) => StreamingCuration.profileFromState(s, d)),
    "simpsonFromState" -> ((s, d) => StreamingCuration.simpsonFromState(s, d)),
    "divergenceFromState" -> ((s, d) => StreamingCuration.divergenceFromState(s, d)),
    "heapsCurveFromState" -> ((s, d) => StreamingCuration.heapsCurveFromState(s, d)),
    "bucketWasteFromState" -> ((s, d) => StreamingCuration.bucketWasteFromState(s, d)))

  def round(r: Int): Seq[String] = Seq(r.toString)
  /** The first fold meets an empty corpus; the second is the first to
    * take the paths of a non-empty one, and compiled about 250 new
    * generated classes while the JIT compiler ran flat out. Both are
    * warm-up.
    */
  override def warmRounds: Int = 2
  def nominalRoundS: Double = 12.5
  /** Every op folds a new batch: a round is one fold. */
  override def wall(perOp: Map[String, Double]): Double = Main.median(perOp.values)

  def setUp(ctx: Ctx): Unit = {
    session += 1
    next = 0
    sourceDir.mkdirs()
    val spark = ctx.spark
    query = new StreamingPipeline(
      source = FileStreamingSource(sourceDir.getPath, schemaDdl = Some(schema),
        options = Map("maxFilesPerTrigger" -> "1")),
      sink = ForeachBatchSink { (df, id) =>
        val r = Option(batchRound.get(id)).map(_.intValue).getOrElse(-1)
        spark.sparkContext.setLocalProperty(Tags.Round, r.toString)
        val res =
          try Right(ctx.span(s"fold.$id", "processBatch")(
            StreamingCuration.processBatch(spark, df, stateDir, batchId = id)))
          catch { case e: Throwable => Left(e) }
        done.put(res)
      },
      trigger = TriggerConfig.ProcessingTime("0 seconds"),
      checkpointLocation = Some(new File(root, "checkpoint").getPath)
    ).startStream(spark)
  }

  /** Drops the next batch file into the source directory and waits for
    * its fold, then runs the readers. The fold time runs from the drop
    * to the end of `processBatch`.
    */
  def op(ctx: Ctx, id: String): OpOut = {
    val b = next
    next += 1
    batchRound.put(b.toLong, ctx.round)
    val src = batches(b)
    val t0 = System.nanoTime()
    // copied under a hidden name, then renamed: the source never sees a
    // partial file
    val hidden = new File(sourceDir, "." + src.getName)
    java.nio.file.Files.copy(src.toPath, hidden.toPath)
    hidden.renameTo(new File(sourceDir, src.getName))
    val res = done.poll(args.opTimeoutS, TimeUnit.SECONDS)
    if (res == null) throw new RuntimeException(s"fold of batch $b timed out")
    res.left.foreach(e => throw e)
    val foldS = (System.nanoTime() - t0) / 1e9
    val reads = readers.map { case (name, f) =>
      val r0 = System.nanoTime()
      ctx.span(s"$name", "FromState") {
        f(ctx.spark, stateDir).write.mode("overwrite").format("noop").save()
      }
      (System.nanoTime() - r0) / 1e9
    }
    OpOut(args.batchDocs.toLong, foldS, reads)
  }

  /** Rows of a frame as strings, sorted: an order-free table compare. */
  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSeq.sorted

  /** Every reader equals its batch twin over the concatenated input the
    * stream has folded (the parity contract of `TwinRegistry`).
    */
  def check(ctx: Ctx): Seq[String] = {
    val spark = ctx.spark
    val folded = spark.read.schema(schema).parquet(batches.take(next).map(_.getPath): _*)
    val dir = new File(args.work, "stream_concat").getPath
    folded.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val docs = graft.Tables.t(spark, dir, "documents")
    val twins: Map[String, DataFrame] = Map(
      "profileFromState" -> graft.ops.Curation.taProfile(spark, dir),
      "simpsonFromState" -> graft.ops.CorpusFilters.simpsonDiversityOf(docs),
      "divergenceFromState" -> graft.ops.CorpusFilters.sourceDivergenceOf(docs),
      "heapsCurveFromState" -> graft.ops.CorpusFilters.heapsCurveOf(docs),
      "bucketWasteFromState" -> graft.ops.Packing.packBucketWasteOf(docs))
    readers.flatMap { case (name, f) =>
      val got = rows(f(spark, stateDir))
      val want = rows(twins(name))
      if (got == want && want.nonEmpty) None
      else Some(s"$name: ${got.size} rows from state vs ${want.size} from the batch twin" +
        (if (got.size == want.size) " (values differ)" else ""))
    }
  }

  override def tearDown(ctx: Ctx): Unit =
    if (query != null) { query.stop(); query.awaitTermination(); query = null }

  override def stateLayers(): Map[String, Double] = {
    val files = Files.walk(new File(stateDir))
    Map("VersionedState.bytes" -> files.map(_.length).sum.toDouble,
      "VersionedState.files" -> files.size.toDouble)
  }
}

object Files {
  def walk(f: File): Seq[File] =
    if (!f.exists) Nil
    else if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
    else Seq(f)
}
