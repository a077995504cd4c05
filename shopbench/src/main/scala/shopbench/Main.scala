package shopbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** Runs one workload and prints its result as the last line of stdout:
  * {{{
  * shopbench.Main --workload NAME --seed N --seconds S --trace 0|1 --work DIR
  * }}}
  * After an untimed warm-up, the workload is set up `SetupReps` times (the
  * median is `setup_s`), then operations run back to back in a closed loop:
  * the cold first one, then about `S` seconds' worth at the workload's
  * nominal operation time. With `--trace 1` operations alternate between
  * untraced and traced after the first; the per-layer figures are the traced
  * operations' means, and `trace.overhead_s` is the traced minus the
  * untraced median operation time (the cold first operation excluded).
  */
object Main {
  val SetupReps = 2
  val MinOps = 3
  /** Traced runs: the cold operation, then one traced and one untraced. */
  val MinTracedOps = 3

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean, work: String)

  def parse(args: Seq[String]): Opts = {
    val m = args.grouped(2).collect { case Seq(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    require(args.length % 2 == 0 && m.size * 2 == args.length, s"bad arguments: ${args.mkString(" ")}")
    val o = Opts(m("workload"), m("seed").toLong, m("seconds").toInt,
      m.getOrElse("trace", "0") match { case "0" => false; case "1" => true }, m("work"))
    require(Workloads.Names.contains(o.workload), s"unknown workload ${o.workload}")
    require(o.seconds > 0, "--seconds must be positive")
    o
  }

  def main(args: Array[String]): Unit = {
    val opts = parse(args.toSeq)
    System.setProperty("spark.callstack.depth", "200")
    Files.createDirectories(Paths.get(opts.work))
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder().master(s"local[$cpus]").appName("shopbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"${opts.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${opts.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val (detail, result) = try run(spark, opts) finally spark.stop()
    println("# detail " + Json.obj(detail))
    println(result)
  }

  /** Unpersist everything cached and return the bytes that were cached. */
  def unpersistAll(spark: SparkSession): Long = {
    val sc = spark.sparkContext
    val residual = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    spark.catalog.clearCache()
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    residual
  }

  final case class Done(r: OpResult, traced: Boolean, cold: Boolean, residual: Long,
                        retainedMb: Option[Double])

  def run(spark: SparkSession, o: Opts): (Map[String, Any], String) = {
    val env = new Env(spark, Paths.get(o.work), o.seed)
    val w = Workloads(o.workload, env)
    val probe0 = cpuProbe()
    val tracer = if (o.trace) Some(new Tracer(spark)) else None
    val done = mutable.ArrayBuffer.empty[Done]
    // the number of operations is fixed: the cold one, then as many as
    // nominally fill the run time. Traced: operation 0 untraced, then traced
    // and untraced operations alternate; the last set-up runs traced.
    val ops = math.max(if (o.trace) MinTracedOps else MinOps,
      1 + math.round(o.seconds / w.nominalOpSeconds).toInt)
    tracer.foreach(_.install())
    val setupRuns = try {
      w.warmUp()
      unpersistAll(spark)
      val runs = (0 until SetupReps).map { r =>
        val (fig, s) = Workloads.timed(w.setup(r, tracer.filter(_ => r == SetupReps - 1)))
        unpersistAll(spark)
        System.err.println(f"[shopbench] setup $r: $s%.3f s")
        (s, fig)
      }
      for (k <- 0 until ops) {
        val on = tracer.filter(_ => k % 2 == 1)
        val r = try w.op(k, on) catch {
          case e: Exception =>
            System.err.println(s"[shopbench] operation $k failed: $e")
            e.printStackTrace()
            OpResult(Map.empty, ok = false)
        }
        done += Done(r, on.nonEmpty, k == 0, unpersistAll(spark),
          if (k == 1) Some(retainedHeapMb()) else None)
        System.err.println(f"[shopbench] op $k ok=${r.ok} traced=${on.nonEmpty} " +
          r.times.toSeq.sorted.map { case (n, v) => f"$n=$v%.3f" }.mkString(" "))
      }
      runs
    } finally tracer.foreach(_.uninstall())
    val setups = setupRuns.map(_._1)
    val setupFigures = setupRuns.last._2
    val (finalOk, storeRatio) = w.finish()
    val probe1 = cpuProbe()

    val failed = if (!finalOk) done.size else done.count(!_.r.ok)
    val good = done.filter(_.r.ok)
    // timings leave out the cold first operation when warm ones exist
    val warm = if (good.exists(!_.cold)) good.filterNot(_.cold) else good
    def times(key: String, rs: Seq[Done] = warm.toSeq) = rs.flatMap(_.r.times.get(key))
    def med(key: String, rs: Seq[Done] = warm.toSeq) = {
      val t = times(key, rs); if (t.isEmpty) 0.0 else Stats.median(t)
    }
    val opTimes = times("op")
    val endToEnd = Map(
      "setup_s" -> ("s", Stats.median(setups)),
      "op_p50_s" -> ("s", med("op")),
      "read_p50_s" -> ("s", med("read")),
      "store_bytes_per_user_byte" -> ("ratio", storeRatio))
    val metrics: Map[String, (String, Double)] = if (!o.trace) endToEnd else {
      val traced = good.filter(_.traced).toSeq
      val untraced = good.filter(d => !d.traced && !d.cold).toSeq
      val means = PerLayer.Metrics.map(_._1).map { key =>
        key -> (if (w.setupLayers.exists(key.startsWith)) setupFigures.getOrElse(key, 0.0)
                else opMean(traced, key))
      }.toMap ++ Map(
        "spark.residual_cached_bytes" -> (if (traced.isEmpty) 0.0 else traced.map(_.residual).sum.toDouble / traced.size),
        "trace.overhead_s" -> (med("op", traced) - med("op", untraced)),
        "spark.peak_rss_mb" -> peakRssMb(),
        "spark.retained_heap_mb" -> done.flatMap(_.retainedMb).headOption.getOrElse(0.0))
      PerLayer.Metrics.map { case (key, unit) => key -> (unit, means(key)) }.toMap
    }
    val tail = Stats.tail(opTimes)
    // the operations' own split by layer, whatever the metrics take from set-up
    val opSplit = if (!o.trace) Map.empty[String, Any] else Map("op_time_s_by_layer" ->
      Layers.All.map(l => l -> opMean(good.filter(_.traced).toSeq, s"$l.op_time_s")).toMap)
    val detail = Map[String, Any](
      "workload" -> o.workload, "seed" -> o.seed, "trace" -> o.trace,
      "operations" -> done.size, "op_samples" -> opTimes.size,
      "setup_runs_s" -> setups,
      "op_tail_percentile" -> tail.map(_._1).getOrElse(0),
      "op_tail_s" -> tail.map(_._2).getOrElse(0.0),
      "cpu_probe_s" -> Seq(probe0, probe1),
      "final_state_ok" -> finalOk) ++ opSplit ++ (o.workload match {
        case "invoice_month" => Map("invoice_p50_s" -> med("op"), "invoice_verify_p50_s" -> med("read"))
        case _ =>
          val batches = warm.toSeq.flatMap(_.r.times.collect { case (b, v) if b.startsWith("batch") => v })
          Map("cdc_changes_per_s" -> med("changes_per_s"), "cdc_read_s" -> med("read"),
            "cdc_batch_p50_s" -> (if (batches.isEmpty) 0.0 else Stats.median(batches)),
            "cdc_batches" -> batches.size, "cdc_compact_p50_s" -> med("compact"))
      })
    val correct = failed == 0 && done.nonEmpty
    (detail, Json.obj(Map(
      "correct" -> correct, "attempted" -> done.size, "failed" -> failed,
      "metrics" -> metrics.map { case (n, (u, v)) => n -> Map("value" -> v, "unit" -> u) })))
  }

  /** Mean of a per-layer figure over operations; 0 without any. */
  def opMean(ds: Seq[Done], key: String): Double = {
    val vs = ds.map(_.r.layer.getOrElse(key, 0.0))
    if (vs.isEmpty) 0.0 else vs.sum / vs.size
  }

  /** Heap in use after a full collection, in MB: what the process retains
    * between operations. Taken once, after the second operation, so runs
    * of different lengths compare.
    */
  def retainedHeapMb(): Double = {
    System.gc()
    val heap = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
    heap.getUsed / 1048576.0
  }

  /** Peak resident set of this JVM (`VmHWM`), in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
  }

  /** Seconds for a fixed single-thread integer workload: a diagnostic of
    * how fast the machine ran this process. It never rescales a metric.
    */
  def cpuProbe(): Double = {
    val (h, s) = Workloads.timed((0L until 5000000L).foldLeft(0L)((a, i) => Mix.mix(a ^ i)))
    probeSink = h
    s
  }
  @volatile private var probeSink = 0L
}

/** Minimal JSON rendering for the result lines. */
object Json {
  def value(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.asInstanceOf[Map[String, Any]])
    case s: Iterable[_] => s.map(value).mkString("[", ",", "]")
    case other => value(other.toString)
  }
  def obj(m: Map[String, Any]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => value(k) + ":" + value(v) }.mkString("{", ",", "}")
}
