package shopbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.FileSystem
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Maps a call site to the program layer that issued it. */
object Layers {
  val All: Seq[String] = Seq("ingest", "store", "queries", "verify", "io", "streaming", "spark")

  private val ByPrefix: Seq[(String, String)] = Seq(
    "graft.ingest." -> "ingest",
    "graft.store." -> "store",
    "graft.operators.DeletionVectors" -> "store",
    "graft.queries.Invoice" -> "queries",
    "graft.verify." -> "verify",
    "graft.io." -> "io",
    "graft.streaming." -> "streaming",
    // a thread blocked in StreamingQuery.awaitTermination waits on the stream
    "org.apache.spark.sql.execution.streaming." -> "streaming",
    "shopbench." -> "bench")

  private val Frame = """([\w.$]+)\.[\w$]+\(([\w.]+):\d+\)""".r

  /** Layer of a stack frame's class, if it belongs to one. */
  def ofClass(cls: String): Option[String] =
    ByPrefix.collectFirst { case (p, l) if cls.startsWith(p) => l }

  /** Layer of a job from its call site (innermost program frame first);
    * jobs a streaming query runs outside any program frame are `streaming`,
    * the rest are engine work (`spark`).
    */
  def ofCallSite(longForm: String, streaming: Boolean): String =
    Frame.findAllMatchIn(Option(longForm).getOrElse("")).map(_.group(1))
      .flatMap(ofClass).nextOption()
      .getOrElse(if (streaming) "streaming" else "spark")
}

/** Listener-fed trace of the operations run between [[begin]] and [[end]].
  * Everything here observes the program from outside: Spark listener events,
  * Hadoop `file` FileSystem statistics, GC beans and stack samples of the
  * thread running the operation.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val viewExecIds = ConcurrentHashMap.newKeySet[Long]()
  private val viewQueries = new java.util.concurrent.ConcurrentLinkedQueue[ExecRec]()
  private val batches = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Long]]()
  private val samples = new ConcurrentHashMap[String, java.lang.Long]()
  @volatile private var viewRoots: Seq[String] = Nil

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
      // the result stage carries the job's call site (long form)
      val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details
      val layer = Layers.ofCallSite(site, prop("sql.streaming.queryId").isDefined)
      val rec = JobRec(layer, prop("spark.sql.execution.id").map(_.toLong), e.time)
      jobs.put(e.jobId, rec)
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      job(e.stageInfo.stageId).foreach(j => j.synchronized { j.stages += 1 })
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = job(e.stageId).foreach { j =>
      val m = e.taskMetrics
      val info = e.taskInfo
      if (m != null) j.synchronized {
        j.tasks += 1
        j.taskMs += m.executorRunTime
        j.maxTaskMs = math.max(j.maxTaskMs, info.duration)
        j.schedulerDelayMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
        j.shuffleRead += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        j.recordsRead += m.inputMetrics.recordsRead
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart if readsView(s.physicalPlanDescription) =>
        viewExecIds.add(s.executionId)
      case _ =>
    }
  }

  // a root matches only as a whole path component: the month's CSV sits
  // next to the store and shares its name as a prefix
  private def readsView(text: String): Boolean =
    text != null && viewRoots.exists(r => text.contains(r + "/"))

  /** Catalyst phases of executions whose analyzed plan reads the view roots. */
  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val roots = qe.analyzed.collect {
        case l: LogicalRelation => l.relation match {
          case h: HadoopFsRelation => h.location.rootPaths.map(_.toUri.getPath)
          case _ => Nil
        }
      }.flatten
      if (roots.exists(r => viewRoots.exists(v => r == v || r.startsWith(v + "/"))))
        viewQueries.add(ExecRec(qe.tracker.phases.map { case (k, v) => k -> v.durationMs }, durationNs))
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (e.progress.numInputRows > 0)
        batches.add(e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)
  }

  private def job(stageId: Int): Option[JobRec] =
    Option(stageJob.get(stageId)).flatMap(j => Option(jobs.get(j)))

  def install(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  def uninstall(): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }

  // ---- per-operation window ----
  private var t0Ms = 0L
  private var fs0: FsCounters = FsCounters(0, 0, 0, 0)
  private var gc0 = 0L
  private var sampler: Option[Thread] = None

  /** Start an operation window. `roots` are the directories whose reads
    * count as invoice-view work (`queries.*`), whichever layer forces them.
    */
  def begin(roots: Seq[String] = Nil): Unit = {
    org.apache.spark.shopbench.BusAccess.drain(spark.sparkContext)
    jobs.clear(); stageJob.clear(); viewExecIds.clear(); viewQueries.clear(); batches.clear()
    samples.clear()
    viewRoots = roots
    fs0 = fsCounters(); gc0 = gcMs()
    val target = Thread.currentThread()
    val s = new Thread(() => sample(target), "shopbench-sampler")
    s.setDaemon(true); s.start(); sampler = Some(s)
    t0Ms = System.currentTimeMillis()
  }

  /** Close the window and return its per-layer figures (one operation). */
  def end(): Map[String, Double] = {
    val t1Ms = System.currentTimeMillis()
    sampler.foreach { s => s.interrupt(); s.join() }
    sampler = None
    org.apache.spark.shopbench.BusAccess.drain(spark.sparkContext)
    val fs1 = fsCounters()
    val out = mutable.LinkedHashMap[String, Double]()
    val js = jobs.values.asScala.toSeq
    def byLayer(l: String) = js.filter(_.layer == l)
    for (l <- Seq("ingest", "store", "verify")) {
      out(s"$l.job_task_s") = byLayer(l).map(_.taskMs).sum / 1e3
      out(s"$l.jobs") = byLayer(l).size.toDouble
    }
    // invoice-view work, wherever it is forced: SQL executions reading the view roots
    val vq = viewQueries.asScala.toSeq
    val vj = js.filter(_.execId.exists(viewExecIds.contains))
    def phase(p: String) = vq.map(_.phasesMs.getOrElse(p, 0L)).sum.toDouble
    out("queries.analysis_ms") = phase("analysis")
    out("queries.optimization_ms") = phase("optimization")
    out("queries.planning_ms") = phase("planning")
    out("queries.exec_s") = vq.map(_.durationNs).sum / 1e9
    out("queries.jobs") = vj.size.toDouble
    out("queries.stages") = vj.map(_.stages).sum.toDouble
    out("queries.tasks") = vj.map(_.tasks).sum.toDouble
    out("queries.max_task_s") = (vj.map(_.maxTaskMs) :+ 0L).max / 1e3
    out("queries.shuffle_read_bytes") = vj.map(_.shuffleRead).sum.toDouble
    out("queries.shuffle_write_bytes") = vj.map(_.shuffleWrite).sum.toDouble
    out("queries.spill_bytes") = vj.map(_.spill).sum.toDouble
    out("queries.rows_scanned") = vj.map(_.recordsRead).sum.toDouble
    out("store.bytes_written") = (fs1.bytesWritten - fs0.bytesWritten).toDouble
    out("store.bytes_read") = (fs1.bytesRead - fs0.bytesRead).toDouble
    out("store.fs_write_ops") = (fs1.writeOps - fs0.writeOps).toDouble
    out("store.fs_read_ops") = (fs1.readOps - fs0.readOps).toDouble
    // samples are shares of the window: the sampler's period stretches
    // with the cost of each stack walk
    val taken = Layers.All.map(l => count(s"$l.incl")).sum.max(1L)
    for (l <- Layers.All) {
      out(s"$l.op_time_s") = (t1Ms - t0Ms) / 1e3 * count(s"$l.incl") / taken
      out(s"$l.driver_self_s") = (t1Ms - t0Ms) / 1e3 * count(s"$l.self") / taken
    }
    val bs = batches.asScala.toSeq
    out("streaming.batches") = bs.size.toDouble
    for ((name, key) <- StreamPhases)
      out(s"streaming.$name") = bs.map(_.getOrElse(key, 0L)).sum.toDouble
    out("spark.gc_s") = (gcMs() - gc0) / 1e3
    out("spark.scheduler_delay_s") = js.map(_.schedulerDelayMs).sum / 1e3
    out("spark.driver_self_s") = (t1Ms - t0Ms - covered(js, t0Ms, t1Ms)) / 1e3
    out.toMap
  }

  private def count(key: String): Long = Option(samples.get(key)).map(_.longValue).getOrElse(0L)

  /** Samples the operation's thread and charges each sample to the innermost
    * program frame's layer: `<layer>.incl` always, `<layer>.self` only when
    * the thread is runnable, i.e. not blocked on a job, a stage or a sleep.
    */
  private def sample(target: Thread): Unit =
    try while (true) {
      Thread.sleep(SampleMs)
      val st = target.getStackTrace
      val waiting = target.getState != Thread.State.RUNNABLE
      val layer = st.iterator.map(_.getClassName).flatMap(Layers.ofClass)
        .filter(_ != "bench").nextOption().getOrElse("spark")
      samples.merge(s"$layer.incl", 1L, (a, b) => a + b)
      if (!waiting) samples.merge(s"$layer.self", 1L, (a, b) => a + b)
    } catch { case _: InterruptedException => () }
}

object Tracer {
  final case class JobRec(layer: String, execId: Option[Long], start: Long) {
    @volatile var end: Long = -1
    var stages = 0; var tasks = 0; var taskMs = 0L; var maxTaskMs = 0L; var schedulerDelayMs = 0L
    var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L; var recordsRead = 0L
  }
  final case class ExecRec(phasesMs: Map[String, Long], durationNs: Long)
  final case class FsCounters(bytesRead: Long, bytesWritten: Long, readOps: Long, writeOps: Long)

  val SampleMs = 5L
  val StreamPhases: Seq[(String, String)] = Seq(
    "add_batch_ms" -> "addBatch", "wal_commit_ms" -> "walCommit",
    "commit_offsets_ms" -> "commitOffsets", "query_planning_ms" -> "queryPlanning",
    "get_batch_ms" -> "getBatch", "latest_offset_ms" -> "latestOffset")

  /** Hadoop `file`-scheme statistics (the store is on the local filesystem). */
  def fsCounters(): FsCounters = {
    val st = FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file")
    FsCounters(st.map(_.getBytesRead).sum, st.map(_.getBytesWritten).sum,
      st.map(s => s.getReadOps.toLong + s.getLargeReadOps).sum, st.map(_.getWriteOps.toLong).sum)
  }

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  /** Milliseconds of [t0, t1] during which at least one job was running. */
  def covered(js: Seq[JobRec], t0: Long, t1: Long): Long = {
    val iv = js.map(j => (math.max(t0, j.start), math.min(t1, if (j.end < 0) t1 else j.end)))
      .filter(i => i._2 > i._1).sortBy(_._1)
    var total = 0L; var curS = -1L; var curE = -1L
    for ((s, e) <- iv) {
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}
