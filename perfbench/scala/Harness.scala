package perfbench

import graft.Sessions
import graft.cdc.{CanalJson, Changelog, DdlParser, DebeziumJson}
import graft.model.{CreateTableEvent, SchemaChangeEvent, TableId, TableInfo}
import graft.pipeline.{PipelineDef, YamlPipelineParser}
import graft.route.TableIdRouter
import graft.sinks.{DataSink, ParquetUpsertSink}
import graft.streaming.StreamingPipeline
import graft.transform.TransformEngine
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}
import org.apache.spark.sql.util.QueryExecutionListener

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import com.sun.management.GarbageCollectionNotificationInfo

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One benchmark JVM: runs a pipeline YAML the way a Flink-CDC user runs a
  * pipeline file (parse -> construct -> stream the file topic into the
  * Parquet upsert sink), times it from outside, and writes a result JSON.
  *
  * Arguments are `key=value` pairs:
  *  - `mode`: `run` (full pipeline) or `setup` (stop once the query is active)
  *  - `yaml`, `feed`, `out`, `workdir`: pipeline file, feed directory
  *    (topic/ or staging/), result file, scratch directory
  *  - `events`, `segments`: the feed's generated events and segment files
  *  - `max_files_per_trigger` (0: unbounded), `trigger_ms` (0: AvailableNow)
  *  - `publish_interval_ms` (0: the topic is pre-written),
  *    `warmup_segments` (published, left out of freshness)
  *  - `launch_ms`: wall-clock ms at which the launcher started this JVM
  *  - `cores`: N of the `local[N]` master
  *  - `trace`: 1 records spans, listener metrics and the decode ladder
  *
  * Tracing reads the program only through public calls the benchmark
  * makes: a SparkListener keyed by the job description set around each
  * call, a DataSink decorator, a StreamingQueryListener, a
  * QueryExecutionListener for written files and the Spark checkpoint
  * files of the query.
  */
object Harness {

  final case class Span(layer: String, batch: Long, startNs: Long, endNs: Long)

  private val spans = mutable.ArrayBuffer.empty[Span]
  private def record(s: Span): Unit = spans.synchronized { spans += s }

  /** Run `f` with `perfbench:<layer>` prefixed to the job description, so
    * the job listener can attribute the jobs the call submits. */
  def labelled[T](spark: SparkSession, layer: String)(f: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setLocalProperty("spark.job.description",
      s"perfbench:$layer|" + Option(prev).getOrElse(""))
    try f finally sc.setLocalProperty("spark.job.description", prev)
  }

  private def batchOf(spark: SparkSession): Long =
    Option(spark.sparkContext.getLocalProperty("streaming.sql.batchId"))
      .map(_.toLong).getOrElse(-1L)

  /** Times `write` and `applySchemaChange`; remembers each table's latest
    * sink schema (needed for the terminal compaction) in either mode. */
  final class TimedSink(spark: SparkSession, inner: DataSink, trace: Boolean)
      extends DataSink {
    val infos = mutable.LinkedHashMap.empty[TableId, TableInfo]
    var ddlOut = 0
    val persistedBatches = mutable.Set.empty[Long]

    override def applySchemaChange(e: SchemaChangeEvent): Unit = {
      val t0 = System.nanoTime()
      inner.applySchemaChange(e)
      e match {
        case CreateTableEvent(t, i) => infos(t) = i
        case other =>
          ddlOut += 1
          infos.get(other.tableId).foreach(i => infos(other.tableId) = i.applySchemaChange(other))
      }
      if (trace) record(Span("sinks.schema", batchOf(spark), t0, System.nanoTime()))
    }

    override def write(tableId: TableId, exploded: DataFrame, info: TableInfo): Unit = {
      infos(tableId) = info
      if (!trace) inner.write(tableId, exploded, info)
      else {
        val batch = batchOf(spark)
        // the pipeline keeps a batch cached only on its persist-first path
        if (spark.sparkContext.getPersistentRDDs.nonEmpty) persistedBatches += batch
        val t0 = System.nanoTime()
        labelled(spark, "sinks.write")(inner.write(tableId, exploded, info))
        record(Span("sinks.write", batch, t0, System.nanoTime()))
      }
    }

    override def declaresPartitionKeys: Boolean = inner.declaresPartitionKeys
    override def sinkDefinedPartitionKeys(t: TableId, i: TableInfo): Option[Seq[String]] =
      inner.sinkDefinedPartitionKeys(t, i)
  }

  /** Task metrics summed per job, jobs attributed to a layer by the
    * `perfbench:` description prefix (else the streaming batch id). */
  final class JobListener extends SparkListener {
    final class Job(val layer: String, val batch: Long) {
      var tasks = 0L; var cpuNs = 0L; var gcMs = 0L
      var spill = 0L; var shuffleWrite = 0L; var outBytes = 0L; var outRecords = 0L
    }
    val jobs = mutable.LinkedHashMap.empty[Int, Job]
    private val stageJob = mutable.Map.empty[Int, Int]
    private val open = mutable.Set.empty[Int]
    @volatile var active = true

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      if (active) {
        val p = Option(e.properties)
        val desc = p.flatMap(x => Option(x.getProperty("spark.job.description"))).getOrElse("")
        val batch = p.flatMap(x => Option(x.getProperty("streaming.sql.batchId")))
          .map(_.toLong).getOrElse(-1L)
        val layer =
          if (desc.startsWith("perfbench:")) desc.stripPrefix("perfbench:").takeWhile(_ != '|')
          else if (batch >= 0) "streaming.control"
          else "other"
        jobs(e.jobId) = new Job(layer, batch)
        open += e.jobId
        e.stageIds.foreach(s => stageJob(s) = e.jobId)
      }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      for (jid <- stageJob.get(e.stageId); j <- jobs.get(jid); m <- Option(e.taskMetrics)) {
        j.tasks += 1; j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime; j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.outBytes += m.outputMetrics.bytesWritten; j.outRecords += m.outputMetrics.recordsWritten
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized { open -= e.jobId }

    /** Block until every job seen starting has been seen ending (task
      * metrics precede the job end on the listener bus). */
    def awaitQuiet(): Unit = {
      val deadline = System.nanoTime() + 10_000_000_000L
      while (System.nanoTime() < deadline && synchronized(open.nonEmpty)) Thread.sleep(20)
    }

    def select(p: Job => Boolean): Seq[Job] = synchronized { jobs.values.filter(p).toSeq }
  }

  /** Files committed by the writes under `dir` (the write command's
    * `numFiles` metric; staging and delta files that a later swap or
    * compaction removes count too). */
  final class WriteListener(dir: String) extends QueryExecutionListener {
    @volatile var files = 0L
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      def walk(p: SparkPlan): Unit = p match {
        case c: CommandResultExec => walk(c.commandPhysicalPlan)
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case w: DataWritingCommandExec => w.cmd match {
          case i: InsertIntoHadoopFsRelationCommand if i.outputPath.toString.contains(dir) =>
            files += i.metrics.get("numFiles").map(_.value).getOrElse(0L)
          case _ => ()
        }
        case other => other.children.foreach(walk)
      }
      walk(qe.executedPlan)
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  final class ProgressListener extends StreamingQueryListener {
    val progress = mutable.ArrayBuffer.empty[org.apache.spark.sql.streaming.StreamingQueryProgress]
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      synchronized { progress += e.progress }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  private def nowMs(): Long = System.currentTimeMillis()

  private def processCpuNs(): Long =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Peak heap the program retains: the most heap still in use right
    * after a garbage collection, over the GCs seen while `on`. The heap is
    * fixed and pre-touched, so resident memory would only show its size. */
  final class HeapAfterGc extends NotificationListener {
    private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    @volatile var on = false
    @volatile var peakBytes = 0L
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(this, null, null)
      case _ => ()
    }
    override def handleNotification(n: Notification, hb: AnyRef): Unit =
      if (on && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val after = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          .getGcInfo.getMemoryUsageAfterGc.asScala
        note(after.collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum)
      }
    def note(bytes: Long): Unit = synchronized { peakBytes = math.max(peakBytes, bytes) }
  }

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else { val s = xs.sorted; s(s.size / 2) }

  private def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else { val s = xs.sorted; s(math.min(s.size - 1, math.ceil(p * s.size).toInt - 1).max(0)) }

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  private def json(v: Any): String = mapper.writeValueAsString(v)

  def main(args: Array[String]): Unit = {
    val opt = args.map(_.split("=", 2)).map(a => a(0) -> a(1)).toMap
    val launchMs = opt("launch_ms").toLong
    val setupOnly = opt("mode") == "setup"
    val trace = opt.get("trace").contains("1")
    val cores = opt("cores").toInt
    val work = new File(opt("workdir"))
    def num(k: String): Long = opt.get(k).map(_.toLong).getOrElse(0L)
    val result = mutable.LinkedHashMap.empty[String, Any]

    // ---------------------------------------------------------- set-up
    val spark = Sessions.tuned(SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionMs = nowMs()
    val jobs = new JobListener
    val prog = new ProgressListener
    if (trace) {
      spark.sparkContext.addSparkListener(jobs)
      spark.streams.addListener(prog)
    }

    val yaml = new String(Files.readAllBytes(Paths.get(opt("yaml"))), UTF_8)
    val p0 = System.nanoTime()
    val pd: PipelineDef = YamlPipelineParser.parse(yaml)
    val parseNs = System.nanoTime() - p0

    val c0 = System.nanoTime()
    val src = pd.source.options
    val topic = src("path")
    val sinkDir = pd.sink.options("path")
    val parquet = new ParquetUpsertSink(spark, sinkDir,
      mergeOnRead = pd.sink.options.get("merge-on-read").exists(_.toBoolean))
    val sink = new TimedSink(spark, parquet, trace)
    val writes = new WriteListener(sinkDir)
    if (trace) spark.listenerManager.register(writes)
    val sp = new StreamingPipeline(spark, pd, sink)
    val tables: Seq[(TableId, TableInfo)] = src("tables").split(',').map(_.trim).toSeq.map { t =>
      val tid = TableId.parse(t)
      DdlParser.parse(src(s"schema.ddl.${tid.identifier}"), tid) match {
        case Seq(CreateTableEvent(_, i)) => tid -> i
        case other => throw new IllegalArgumentException(s"not a CREATE TABLE: $other")
      }
    }
    val router = new TableIdRouter(pd.routes, pd.routeMode)
    val sinkTables = tables.flatMap(t => router.route(t._1)).distinct
    val maxFiles = Some(num("max_files_per_trigger").toInt).filter(_ > 0)
    val triggerMs = num("trigger_ms")
    StreamingPipeline.validateFileTopicOrder(topic,
      hadoopConf = spark.sessionState.newHadoopConf())
    val stream = StreamingPipeline.fileJsonStreamOrdered(spark, topic, maxFiles)
    val order = Some(col(StreamingPipeline.FileOrderCol))
    val trigger = if (triggerMs > 0) Trigger.ProcessingTime(triggerMs) else Trigger.AvailableNow()
    val checkpoint = src.get("checkpoint")
    val constructNs = System.nanoTime() - c0

    val heap = new HeapAfterGc
    val cpu0 = processCpuNs()
    val s0 = System.nanoTime()
    val q = pd.source.kind match {
      case "canal-file" =>
        sp.startMultiFromCanalJson(stream, tables, checkpointLocation = checkpoint,
          trigger = trigger, order = order)
      case _ =>
        sp.startMultiFromDebeziumJson(stream, tables, checkpointLocation = checkpoint,
          trigger = trigger, order = order)
    }
    val startNs = System.nanoTime() - s0
    val activeMs = nowMs()
    heap.on = true
    result("setup_s") = (activeMs - launchMs) / 1000.0
    result("pipeline.session_s") = (sessionMs - launchMs) / 1000.0
    result("pipeline.parse_s") = parseNs / 1e9
    result("pipeline.construct_s") = constructNs / 1e9
    result("streaming.start_s") = startNs / 1e9

    if (setupOnly) {
      q.stop()
      spark.stop()
      writeResult(opt("out"), result)
      return
    }

    // --------------------------------------------------- open-loop publisher
    val interval = num("publish_interval_ms")
    val staging = new File(opt("feed"), "staging")
    val dueMs = mutable.Map.empty[String, Long] // segment name -> due time
    val publishedMs = mutable.Map.empty[String, Long]
    val publisher: Option[Thread] =
      if (interval <= 0) None
      else {
        val segs = Option(staging.listFiles()).toSeq.flatten.map(_.getName).sorted
        val t0 = activeMs + interval
        segs.zipWithIndex.foreach { case (n, i) => dueMs(n) = t0 + i * interval }
        val th = new Thread(() => {
          segs.foreach { n =>
            val due = dueMs(n)
            val wait = due - nowMs()
            if (wait > 0) Thread.sleep(wait)
            val dst = Paths.get(topic, n)
            val tmp = Paths.get(topic, "." + n + ".tmp") // hidden from the file source
            Files.copy(staging.toPath.resolve(n), tmp)
            Files.setLastModifiedTime(tmp, java.nio.file.attribute.FileTime.fromMillis(nowMs()))
            Files.move(tmp, dst, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
            publishedMs(n) = nowMs()
          }
        }, "perfbench-publisher")
        th.setDaemon(true)
        th.start()
        Some(th)
      }

    // ------------------------------------------------------------ timed run
    // a query that dies (a program defect) is reported, not thrown: the
    // run then counts every expected row as failed
    val dead: Option[String] =
      try {
        publisher match {
          case Some(th) =>
            th.join()
            q.processAllAvailable()
          case None =>
            require(q.awaitTermination(150000), "pipeline did not finish in 150 s")
        }
        None
      } catch { case e: Exception => Some(rootCause(e)) }
    val deadMs = nowMs()
    val ck = new File(checkpoint.get)
    val commitMs: Map[Long, Long] = Option(new File(ck, "commits").listFiles()).toSeq.flatten
      .filter(_.getName.forall(_.isDigit))
      .map(f => f.getName.toLong -> f.lastModified()).toMap
    // the last micro-batch commit; a dead run is charged up to its death
    var endMs = if (dead.nonEmpty) deadMs else (commitMs.values ++ Seq(activeMs)).max
    var cpuNs = processCpuNs() - cpu0
    if (dead.isEmpty && pd.sink.options.get("merge-on-read").exists(_.toBoolean)) {
      // merge-on-read: the run ends with one compaction per table
      sinkTables.foreach { t =>
        val c = System.nanoTime()
        labelled(spark, "sinks.compact")(parquet.compact(t, sink.infos(t)))
        record(Span("sinks.compact", -1L, c, System.nanoTime()))
      }
      endMs = nowMs()
      cpuNs = processCpuNs() - cpu0
    }
    heap.on = false
    System.gc() // the heap still live at the end counts too
    heap.note(ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
    q.stop()
    jobs.active = false
    val wallS = (endMs - activeMs) / 1000.0

    // ------------------------------------------------ freshness from the log
    // segment -> batch for committed batches (the source log also lists the
    // batch that was running when a query died)
    val fileBatch = fileSourceLog(new File(ck, "sources/0")).filter(x => commitMs.contains(x._2))
    val segNames = fileBatch.keys.toSeq.sorted
    val due: String => Long = n => dueMs.getOrElse(n, activeMs)
    require(dead.nonEmpty || segNames.size == num("segments"),
      s"query committed ${segNames.size} of ${num("segments")} segments")
    // a dead query leaves segments uncommitted: their staleness runs until
    // the death was seen (a lower bound), so a dead run never reads fresh
    val allSegs = Option((if (interval > 0) staging else new File(topic)).listFiles()).toSeq
      .flatten.map(_.getName).filterNot(_.startsWith(".")).sorted
    val counted = allSegs.drop(num("warmup_segments").toInt)
    val fresh = counted.map(n =>
      (fileBatch.get(n).map(commitMs).getOrElse(deadMs) - due(n)).toDouble)
    // highest percentile with >= 10 samples beyond it (p90 needs 100)
    val tailP = if (fresh.size >= 100) 0.9 else math.max(0.5, 1.0 - 10.0 / math.max(1, fresh.size))
    dead.foreach(m => result("dead") = m)
    result("committed_segments") = segNames.size
    result("wall_s") = wallS
    result("freshness_p50_ms") = percentile(fresh, 0.5)
    result("freshness_p90_ms") = percentile(fresh, tailP)
    result("freshness_tail_pct") = tailP * 100
    result("freshness_samples") = fresh.size
    result("process_cpu_s") = cpuNs / 1e9
    result("heap_peak_mb") = heap.peakBytes / 1048576.0
    result("loadgen.late_ms_max") =
      publishedMs.map { case (n, t) => (t - dueMs(n)).toDouble }.maxOption.getOrElse(0.0)
    // every segment's due, publish and commit time, for the side file
    Files.write(new File(work, "segments.jsonl").toPath, segNames.map { n =>
      json(Map("segment" -> n, "due_ms" -> due(n), "published_ms" -> publishedMs.getOrElse(n, due(n)),
        "batch" -> fileBatch(n), "commit_ms" -> commitMs(fileBatch(n))))
    }.mkString("\n").getBytes(UTF_8))

    // ------------------------------------- backlog: published vs committed
    val backlogMax = {
      val ev = segNames.flatMap(n => Seq((due(n), 1), (commitMs(fileBatch(n)), -1)))
        .sortBy(x => (x._1, x._2))
      ev.scanLeft(0)(_ + _._2).max
    }

    if (trace && dead.isEmpty) traceMetrics(spark, pd, tables, sinkTables, parquet, sink,
      jobs, prog, writes, fileBatch, wallS, num("events"), backlogMax, result, work)

    // --------------------------------------------- output dump for the check
    val dump = new File(opt("out") + ".rows")
    val w = Files.newBufferedWriter(dump.toPath, UTF_8)
    try sinkTables.foreach { t =>
      parquet.read(t).toJSON.collect().foreach { r =>
        w.write(t.identifier); w.write('\t'); w.write(r); w.write('\n')
      }
    } catch {
      case e: Exception => result("read_error") = rootCause(e)
    } finally w.close()
    spark.stop()
    writeResult(opt("out"), result)
    if (trace) writeSpans(new File(work, "spans.jsonl"))
  }

  private def rootCause(e: Throwable): String = {
    var c = e
    while (c.getCause != null && c.getCause != c) c = c.getCause
    s"${c.getClass.getSimpleName}: ${Option(c.getMessage).getOrElse("").take(400)}"
  }

  /** Segment file name -> batch id, from the file source's metadata log
    * (a version line, then one JSON entry per file). */
  private def fileSourceLog(dir: File): Map[String, Long] =
    Option(dir.listFiles()).toSeq.flatten.filterNot(_.getName.startsWith("."))
      .flatMap(f => Files.readAllLines(f.toPath, UTF_8).asScala.filter(_.startsWith("{")))
      .map(mapper.readTree)
      .map(e => e.get("path").asText.split('/').last -> e.get("batchId").asLong).toMap

  private def writeResult(path: String, result: collection.Map[String, Any]): Unit =
    Files.write(Paths.get(path), json(result).getBytes(UTF_8))

  private def writeSpans(f: File): Unit = {
    val lines = spans.synchronized(spans.toList).map(s =>
      json(Map("layer" -> s.layer, "batch" -> s.batch, "start_ns" -> s.startNs,
        "end_ns" -> s.endNs)))
    Files.write(f.toPath, lines.mkString("\n").getBytes(UTF_8))
  }

  // ----------------------------------------------------------------- trace

  private def traceMetrics(spark: SparkSession, pd: PipelineDef,
      tables: Seq[(TableId, TableInfo)], sinkTables: Seq[TableId],
      parquet: ParquetUpsertSink, sink: TimedSink, jobs: JobListener,
      prog: ProgressListener, writes: WriteListener, fileBatch: Map[String, Long], wallS: Double,
      events: Long, backlogMax: Int, result: mutable.LinkedHashMap[String, Any],
      work: File): Unit = {
    // listener events arrive asynchronously: wait for the last batch's
    // progress and for every started job's end
    val lastBatch = fileBatch.values.max
    val deadline = System.nanoTime() + 10_000_000_000L
    while (System.nanoTime() < deadline &&
        !prog.synchronized(prog.progress.exists(_.batchId >= lastBatch))) Thread.sleep(20)
    jobs.awaitQuiet()
    val progress = prog.synchronized(prog.progress.toList).filter(_.numInputRows > 0)
    val sp = spans.synchronized(spans.toList)
    def spanMs(layer: String, b: Long) =
      sp.filter(s => s.layer == layer && s.batch == b).map(s => (s.endNs - s.startNs) / 1e6).sum
    def d(p: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)

    // per-batch decomposition: the layers plus the remainder equal the wall
    val rows = progress.map { p =>
      val wall = d(p, "triggerExecution")
      val write = spanMs("sinks.write", p.batchId)
      val schema = spanMs("sinks.schema", p.batchId)
      val control = d(p, "addBatch") - write - schema
      val planning = d(p, "queryPlanning") + d(p, "getBatch")
      val offsets = d(p, "latestOffset") + d(p, "walCommit") + d(p, "commitOffsets")
      val rest = wall - write - schema - control - planning - offsets
      val batchJobs = jobs.select(_.batch == p.batchId)
      mutable.LinkedHashMap[String, Any]("batch" -> p.batchId, "wall_ms" -> wall,
        "sinks.write_ms" -> write, "sinks.schema_ms" -> schema,
        "streaming.control_ms" -> control, "streaming.planning_ms" -> planning,
        "streaming.offsets_ms" -> offsets, "unattributed_ms" -> rest,
        "input_rows" -> p.numInputRows, "jobs" -> batchJobs.size,
        "control_jobs" -> batchJobs.count(_.layer == "streaming.control"))
    }
    Files.write(new File(work, "batches.jsonl").toPath,
      rows.map(json).mkString("\n").getBytes(UTF_8))
    def col(k: String) = rows.map(_(k).asInstanceOf[Double])
    val nBatches = progress.size
    val segmentsRead = fileBatch.size.toDouble
    result("streaming.batches") = nBatches
    result("streaming.batch_p50_ms") = median(col("wall_ms"))
    result("streaming.first_batch_s") =
      progress.headOption.map(p => d(p, "triggerExecution") / 1000).getOrElse(0.0)
    result("streaming.trigger_overhead_ms") =
      median(progress.map(p => d(p, "triggerExecution") - d(p, "addBatch")))
    result("streaming.control_ms") = median(col("streaming.control_ms"))
    result("streaming.unattributed_ms") = median(col("unattributed_ms"))
    result("streaming.unattributed_share") =
      col("unattributed_ms").sum / math.max(1.0, col("wall_ms").sum)
    // the ordered file topic delivers one source row per segment file
    result("streaming.source_reads_per_event") =
      progress.map(_.numInputRows).sum / math.max(1.0, segmentsRead)
    result("streaming.persisted_batch_ratio") =
      sink.persistedBatches.size.toDouble / math.max(1, nBatches)
    result("streaming.backlog_max_segments") = backlogMax

    // sink layer
    val sinkJobs = jobs.select(j => j.layer == "sinks.write" || j.layer == "sinks.compact")
    result("sinks.write_s") = sp.filter(_.layer == "sinks.write").map(s => s.endNs - s.startNs).sum / 1e9
    result("sinks.write_cpu_s") = jobs.select(_.layer == "sinks.write").map(_.cpuNs).sum / 1e9
    result("sinks.compact_s") = sp.filter(_.layer == "sinks.compact").map(s => s.endNs - s.startNs).sum / 1e9
    result("sinks.bytes_written_mb") = sinkJobs.map(_.outBytes).sum / 1048576.0
    var seen = -1L // the write listener is asynchronous too: wait until it settles
    while (seen != writes.files) { seen = writes.files; Thread.sleep(200) }
    result("sinks.files_written") = writes.files
    result("sinks.write_amp") = sinkJobs.map(_.outRecords).sum.toDouble / events
    result("sinks.shuffle_mb") = sinkJobs.map(_.shuffleWrite).sum / 1048576.0
    val r0 = System.nanoTime()
    sinkTables.foreach(t => labelled(spark, "sinks.read")(consume(parquet.read(t))))
    result("sinks.read_s") = (System.nanoTime() - r0) / 1e9

    // engine layer over the timed region (the listener stopped recording
    // at its end, before the read above)
    val all = jobs.select(_ => true)
    val cpu = all.map(_.cpuNs).sum / 1e9
    result("engine.jobs") = all.size
    result("engine.tasks") = all.map(_.tasks).sum
    result("engine.executor_cpu_s") = cpu
    result("engine.gc_s") = all.map(_.gcMs).sum / 1000.0
    result("engine.spill_mb") = all.map(_.spill).sum / 1048576.0
    result("engine.shuffle_write_mb") = all.map(_.shuffleWrite).sum / 1048576.0
    result("engine.parallelism") = cpu / wallS
    result("engine.jobs_per_batch") = all.count(_.batch >= 0).toDouble / math.max(1, nBatches)

    // schema / route layers
    val router = new TableIdRouter(pd.routes, pd.routeMode)
    result("route.fanout_max") = tables.map(t => router.route(t._1).size).max
    result("route.fanin_max") = sinkTables.map(s => tables.count(t => router.route(t._1).contains(s))).max
    result("schema.ddl_out") = sink.ddlOut
    result("schema.apply_s") = sp.filter(_.layer == "sinks.schema").map(s => s.endNs - s.startNs).sum / 1e9

    ladder(spark, pd, jobs, tables, fileBatch, result)
  }

  /** Bench's consumer: hash every column so nothing is pruned away. */
  private def consume(df: DataFrame): Long =
    df.agg(bit_xor(xxhash64(struct(df.columns.toIndexedSeq.map(col): _*)))).collect()
      .headOption.flatMap(r => Option(r.get(0))).map(_.asInstanceOf[Long]).getOrElse(0L)

  /** Decode/transform ladder on one pinned batch (the first micro-batch's
    * segments), cached in memory so each rung measures only its own work:
    * rung 0 hashes the raw lines, rung 1 routes and decodes each table,
    * rung 2 adds the transform. Each rung runs three times; medians. */
  private def ladder(spark: SparkSession, pd: PipelineDef, jobs: JobListener,
      tables: Seq[(TableId, TableInfo)], fileBatch: Map[String, Long],
      result: mutable.LinkedHashMap[String, Any]): Unit = {
    val firstBatch = fileBatch.values.min
    val topic = pd.source.options("path")
    // live-tail batches hold one or two small segments: pin at least 8
    val pinned = math.max(8, fileBatch.count(_._2 == firstBatch))
    val files = fileBatch.keys.toSeq.sorted.take(pinned).map(n => s"$topic/$n")
    val lines = spark.read.text(files: _*).cache()
    lines.count()
    val data = lines.where(DebeziumJson.ddlOf(col("value")).isNull)
      .withColumn("__tbl", DebeziumJson.dataTableOf(col("value")))
    val canal = pd.source.kind == "canal-file"
    val engine = new TransformEngine(spark, pd.transforms)
    def decoded(t: TableId, i: TableInfo): DataFrame = {
      val routed = data.where(col("__tbl") === t.table).select(col("value"))
      if (canal) CanalJson.decode(routed, "value", i.schema).drop("__table")
      else DebeziumJson.decode(routed, "value", i.schema).drop("__table", Changelog.MetaCol)
    }
    val rungs = Seq[(String, () => Unit)](
      "ladder.base" -> (() => { consume(lines); () }),
      "ladder.decode" -> (() => tables.foreach { case (t, i) => consume(decoded(t, i)) }),
      "ladder.transform" -> (() => tables.foreach { case (t, i) =>
        consume(engine.transformChangelog(t, decoded(t, i))) }))
    jobs.active = true
    val times = rungs.map { case (name, f) =>
      name -> median((1 to 3).map { _ =>
        val t0 = System.nanoTime(); labelled(spark, name)(f()); (System.nanoTime() - t0) / 1e9
      })
    }.toMap
    result("cdc.decode_s") = times("ladder.decode") - times("ladder.base")
    result("transform.s") = times("ladder.transform") - times("ladder.decode")
    result("ladder.base_s") = times("ladder.base")
    jobs.awaitQuiet()
    jobs.active = false
    def cpu(layer: String) = jobs.select(_.layer == layer).map(_.cpuNs).sum / 3e9
    result("cdc.decode_cpu_s") = cpu("ladder.decode") - cpu("ladder.base")
    val ruled = tables.filter(t => engine.ruleFor(t._1).isDefined)
    val in = ruled.map { case (t, i) => decoded(t, i).count() }.sum
    val out = ruled.map { case (t, i) => engine.transformChangelog(t, decoded(t, i)).count() }.sum
    result("transform.pass_ratio") = if (in == 0) 1.0 else out.toDouble / in
    result("ladder.rows") = lines.count()
    lines.unpersist()

    // wire DDL: every statement on the topic, parsed once, timed
    val ddl = spark.read.text(topic).select(DebeziumJson.ddlOf(col("value")).as("d"),
      DebeziumJson.dataTableOf(col("value")).as("t")).where(col("d").isNotNull).collect()
    val d0 = System.nanoTime()
    ddl.foreach(r => DdlParser.parse(r.getString(0), TableId.parse("db." + r.getString(1))))
    result("cdc.ddl_parse_ms") = (System.nanoTime() - d0) / 1e6
    result("schema.ddl_in") = ddl.length
  }
}
