package shopbench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.ingest.{IngestPipeline, ShopifyClient}
import graft.io.InvoiceCsv
import graft.model.Schemas
import graft.operators.DeletionVectors
import graft.store.ShopifyStore
import graft.streaming.EventStream

/** One operation's outcome. `times` holds its timed parts in seconds
  * (`op`, and `read` for the read that follows it); `layer` holds the
  * per-layer figures the operation's own code measured.
  */
final case class OpResult(times: Map[String, Double], ok: Boolean,
                          layer: Map[String, Double] = Map.empty)

/** A workload: built by `setup`, then driven one closed-loop operation at a
  * time; `finish` checks the final state and reports the on-disk ratio.
  */
trait Workload {
  /** Typical wall seconds of one operation with its untimed checks; a run
    * of S seconds makes S / this many operations after the cold one, so the
    * number of operations does not depend on how fast the machine was.
    */
  def nominalOpSeconds: Double
  /** Prefixes of the per-layer figures that describe the traced set-up
    * rather than the operations: the layers the set-up exercises and the
    * operations do not (or only read).
    */
  def setupLayers: Seq[String]
  /** Untimed work before the timed set-ups, so that they all run on a warm
    * JVM and the median of a few of them is not the cold one.
    */
  def warmUp(): Unit
  /** Build the initial state; returns per-layer figures when traced. */
  def setup(rep: Int, tracer: Option[Tracer]): Map[String, Double]
  def op(k: Int, tracer: Option[Tracer]): OpResult
  /** (final state correct, store bytes per canonical user byte) */
  def finish(): (Boolean, Double)
}

final class Env(val spark: SparkSession, val work: Path, val seed: Long) {
  private var serial = 0
  def fresh(name: String): String = {
    val p = work.resolve(name)
    Fs.rmrf(p)
    p.toString
  }
  def drop(name: String): Unit = Fs.rmrf(work.resolve(name))
  /** Distinct per operation, so each one throttles its own requests. */
  def nextOpId(): Long = { serial += 1; seed * 1000003L + serial }
}

object Fs {
  def rmrf(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator.asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
  }
  /** path → size of every regular file below `root`. */
  def files(root: String): Map[String, Long] = {
    val p = java.nio.file.Paths.get(root)
    if (!Files.exists(p)) Map.empty else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(Files.isRegularFile(_))
        .map(f => f.toString -> Files.size(f)).toMap
      finally s.close()
    }
  }
  def bytes(root: String): Long = files(root).values.sum
}

object Workloads {
  /** Fixed per-request delay of the in-process API, and its 429 share. */
  val DelayMs = 1L
  val ThrottleShare = 0.01
  /** Client retry wait after a 429 (grows 1.5x per retry, up to 10 tries). */
  val RetryWaitMs = 5L
  val Names: Seq[String] = Seq("invoice_month", "cdc_stream")

  def apply(name: String, env: Env): Workload = name match {
    case "invoice_month" => new InvoiceMonth(env)
    case "cdc_stream"    => new CdcStream(env)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  def client(spec: ShopSpec, opId: Long): ShopifyClient =
    new ShopifyClient(new BenchTransport(spec, opId, DelayMs, ThrottleShare),
      BenchTransport.BaseUrl, retryWaitMs = RetryWaitMs)

  /** Consume a frame fully, the way a sink would, without writing it. */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Run `body` timed, with everything it prints to `System.err` also captured. */
  def stderrOf(body: => Unit): (String, Double) = {
    val orig = System.err
    val buf = new java.io.ByteArrayOutputStream()
    System.setErr(new java.io.PrintStream(new java.io.OutputStream {
      def write(b: Int): Unit = { orig.write(b); buf.write(b) }
      override def write(b: Array[Byte], off: Int, len: Int): Unit = {
        orig.write(b, off, len); buf.write(b, off, len)
      }
    }, true))
    try { val (_, s) = timed(body); (buf.toString("UTF-8"), s) } finally System.setErr(orig)
  }

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Canonical bytes of live records: each row's columns rendered as strings
    * and joined with `|`, UTF-8 length summed. This is the denominator of
    * `store_bytes_per_user_byte`.
    */
  def canonicalBytes(dfs: DataFrame*): Long =
    dfs.map(df => df.select(octet_length(concat_ws("|", df.columns.map(c => col(c).cast("string")): _*)).as("n")))
      .reduce(_ union _).agg(coalesce(sum(col("n")), lit(0L))).head().getLong(0)

  def storeRatio(spark: SparkSession, dir: String): Double = {
    val store = new ShopifyStore(spark, dir)
    Fs.bytes(dir).toDouble / canonicalBytes(Schemas.tables.map(t => store.read(t.name)): _*)
  }

  /** Per-layer ingest figures from the transport's counters. */
  def ingestFigures(d: TransportStats.Snapshot): Map[String, Double] = Map(
    "ingest.requests" -> d.requests.toDouble,
    "ingest.retries" -> d.throttled.toDouble,
    "ingest.useful_request_ratio" -> (if (d.requests == 0) 0.0 else d.useful.toDouble / d.requests),
    "ingest.request_wait_s" -> d.getNanos / 1e9,
    "ingest.page_loop_s" -> d.pageLoopNanos / 1e9,
    "ingest.body_bytes" -> d.bodyBytes.toDouble)

  /** Files added/removed under `dir` between two listings. */
  def fileDiff(before: Map[String, Long], after: Map[String, Long]): Map[String, Double] = Map(
    "store.files_added" -> (after.keySet -- before.keySet).size.toDouble,
    "store.files_removed" -> (before.keySet -- after.keySet).size.toDouble)

  /** Run a sync under the optional tracer and collect its figures. */
  def traced(tracer: Option[Tracer], dir: String)(body: => Unit): (Double, Map[String, Double]) = {
    val before = tracer.map(_ => Fs.files(dir))
    val s0 = TransportStats.snapshot()
    tracer.foreach(_.begin())
    val (_, secs) = timed(body)
    val fig = tracer.map(_.end()).getOrElse(Map.empty)
    val ingest = ingestFigures(TransportStats.snapshot().minus(s0))
    val files = before.map(b => fileDiff(b, Fs.files(dir))).getOrElse(Map.empty)
    val amp = Map("store.write_amp" ->
      fig.getOrElse("store.bytes_written", 0.0) / math.max(1.0, ingest("ingest.body_bytes")))
    (secs, if (tracer.isEmpty) Map.empty else fig ++ ingest ++ files ++ amp)
  }
}

import Workloads._

/** `tripletex-generate` for one calendar month, with gateway renames and a
  * start id, then `tripletex-verify` of its CSV; months are swept in order.
  * Set-up is a full six-stage sync of the shop into an empty store, so
  * `setup_s` is the full-sync latency and a traced set-up gives the ingest
  * and store layers' figures.
  */
final class InvoiceMonth(env: Env) extends Workload {
  private val spark = env.spark
  val nominalOpSeconds = 15.0
  /** `tripletex-verify` runs per operation; the read time is their median. */
  val VerifyRepeats = 2
  /** Months the store covers (one day partition per day of them). */
  val Months = 1
  private val spec = ShopSpec(env.seed, customers = 400, products = 60, ordersPerDay = 30,
    days = (ShopSpec.Start.plusMonths(Months).toEpochDay - ShopSpec.Start.toEpochDay).toInt)
  private var dir = ""
  private val renames = ShopSpec.GatewayRenames
  /** The operations only read the store, so its write-path figures, like
    * the ingest figures, come from the traced set-up sync.
    */
  val setupLayers = Seq("ingest.", "store.")

  /** A sync of the shop's first two days into a scratch store: the same code
    * paths as a set-up at a fifteenth of the data.
    */
  def warmUp(): Unit = {
    IngestPipeline.shopifyUpdate(spark, new ShopifyStore(spark, env.fresh("invoice-warmup")),
      client(spec.copy(days = 2), env.nextOpId()))
    env.drop("invoice-warmup")
  }

  def setup(rep: Int, tracer: Option[Tracer]): Map[String, Double] = {
    env.drop(s"invoice-${rep - 1}")
    dir = env.fresh(s"invoice-$rep")
    traced(tracer, dir) {
      IngestPipeline.shopifyUpdate(spark, new ShopifyStore(spark, dir),
        client(spec, env.nextOpId()))
    }._2
  }

  def op(k: Int, tracer: Option[Tracer]): OpResult = {
    val month = k % Months
    val from = spec.start.plusMonths(month)
    val to = from.plusMonths(1).minusDays(1)
    val startId = 10000L + 1000L * month
    val out = env.fresh(s"invoice-$k.csv")
    val genFlags = Map("store" -> dir, "from-date" -> from.toString, "to-date" -> to.toString,
      "invoice-start-id" -> startId.toString, "out" -> out)
    tracer.foreach(_.begin(Seq(dir)))
    val (genLog, genS) = stderrOf(graft.cli.Main.run(spark, "tripletex-generate", genFlags, renames))
    val gen = tracer.map(_.end()).getOrElse(Map.empty)
    tracer.foreach(_.begin(Seq(dir)))
    val verifies = (1 to VerifyRepeats).map(_ =>
      stderrOf(graft.cli.Main.run(spark, "tripletex-verify", Map("in" -> out), renames)))
    val ver = tracer.map(_.end()).getOrElse(Map.empty)
      .map { case (key, v) => key -> v / VerifyRepeats }
    val verLog = verifies.map(_._1).mkString
    val verS = Stats.median(verifies.map(_._2))

    // the CLI reports its eight checks on stderr: no warning from generate,
    // and verify's all-clear line
    val passed = !genLog.contains("WARNING:") &&
      verLog.split("No irregularities detected", -1).length == VerifyRepeats + 1
    val fromDay = (from.toEpochDay - spec.start.toEpochDay).toInt
    val (orders, want) = Expect.invoices(spec, fromDay, (to.toEpochDay - spec.start.toEpochDay).toInt, startId)
    val r = InvoiceCsv.read(spark, out).agg(count(lit(1)), coalesce(sum(Digest.hashColumn(Expect.InvoiceColumns)), lit(0L)),
      min(col("INVOICE NO")), max(col("INVOICE NO")), countDistinct(col("INVOICE NO"))).head()
    val got = Digest(r.getLong(0), r.getLong(1))
    val dense = orders > 0 && r.getLong(2) == startId && r.getLong(3) == startId + orders - 1 &&
      r.getLong(4) == orders
    if (got != want || !dense || !passed)
      System.err.println(s"[shopbench] month $from: digest $got vs $want, dense=$dense, checks=$passed")
    val layer = if (tracer.isEmpty) Map.empty[String, Double] else {
      val both = (gen.keySet ++ ver.keySet).map(key => key -> (gen.getOrElse(key, 0.0) + ver.getOrElse(key, 0.0))).toMap
      both ++ Map(
        "io.csv_write_s" -> gen.getOrElse("io.op_time_s", 0.0),
        "io.csv_read_s" -> ver.getOrElse("io.op_time_s", 0.0),
        "io.csv_bytes" -> Files.size(java.nio.file.Paths.get(out)).toDouble,
        "queries.rows_scanned_per_invoice_line" -> gen.getOrElse("queries.rows_scanned", 0.0) / math.max(1, got.rows))
    }
    OpResult(Map("op" -> genS, "read" -> verS), got == want && dense && passed, layer)
  }

  def finish(): (Boolean, Double) = (true, storeRatio(spark, dir))
}

/** Exactly-once CDC into a merge-on-read replica of `orders`: each round a
  * new changelog file set arrives and the stream catches up under
  * `AvailableNow`, one file per micro-batch; then the whole replica is read
  * and the fixed compaction policy runs.
  */
final class CdcStream(env: Env) extends Workload {
  private val spark = env.spark
  val nominalOpSeconds = 6.0
  val setupLayers = Nil
  val InitialRows = 20000
  val FilesPerRound = 2
  val ChangesPerFile = 2000
  /** Full reads per round; the round's read time is their median. */
  val ReadRepeats = 5
  /** Compaction policy: fold appended files once more than one has piled up,
    * so every round (two micro-batches, two appended files) ends with a
    * compaction; masked files alone never trigger it.
    */
  val Policy: DeletionVectors.CompactionPolicy =
    DeletionVectors.CompactionPolicy(maxAppendedFiles = 1, maxDirtyRatio = 1.0, maxVectorBytes = 32L << 20)

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false), StructField("name", StringType),
    StructField("customer_id", LongType), StructField("financial_status", StringType),
    StructField("total_price", Schemas.Money)))
  private val feedSchema = StructType(StructField("op", StringType) +: schema.fields)
  private val cols = Seq(col("id"), col("name"), col("customer_id"), col("financial_status"),
    Digest.cents("total_price"))
  private val Statuses = Seq("paid", "partially_refunded", "refunded", "pending")

  private var root = ""
  private def replica = s"$root/replica"
  private def feed = s"$root/feed"
  private def ckpt = s"$root/checkpoint"
  private var rng = new java.util.SplittableRandom(env.seed)
  private val live = mutable.LongMap.empty[(String, Long, String, Long)]
  private val keys = mutable.ArrayBuffer.empty[Long]
  private var nextId = 0L

  private def row(id: Long, v: (String, Long, String, Long)): Row =
    Row(id, v._1, v._2, v._3, java.math.BigDecimal.valueOf(v._4, 2).setScale(9))
  private def fresh(id: Long) = ("#" + (1001 + id - ShopSpec.OrderBase), ShopSpec.CustomerBase + rng.nextInt(400),
    Statuses(rng.nextInt(Statuses.length)), 1000L + rng.nextInt(500000))

  /** Seeding is cheap, so the warm-up is one untimed set-up. */
  def warmUp(): Unit = setup(-1, None)

  def setup(rep: Int, tracer: Option[Tracer]): Map[String, Double] = {
    env.drop(s"cdc-${rep - 1}")
    root = env.fresh(s"cdc-$rep")
    rng = new java.util.SplittableRandom(env.seed)
    live.clear(); keys.clear()
    nextId = ShopSpec.OrderBase
    val rows = (0 until InitialRows).map { _ =>
      val id = nextId; nextId += 1
      val v = fresh(id); live(id) = v; keys += id
      row(id, v)
    }
    spark.createDataFrame(rows.asJava, schema).repartition(4).write.parquet(replica)
    Map.empty
  }

  /** One changelog file: ~30% inserts, 40% updates, 30% deletes, one op per
    * key. Returns (changes, canonical bytes of the change rows).
    */
  private def arrive(): (Long, Long) = {
    val used = mutable.HashSet.empty[Long]
    val rows = (0 until ChangesPerFile).map { _ =>
      val r = rng.nextInt(10)
      if (r < 3 || keys.size < ChangesPerFile) {
        val id = nextId; nextId += 1
        val v = fresh(id); live(id) = v; keys += id; used += id
        Row.fromSeq("I" +: row(id, v).toSeq)
      } else {
        var id = keys(rng.nextInt(keys.size))
        while (used.contains(id)) id = keys(rng.nextInt(keys.size))
        used += id
        if (r < 7) {
          val v = fresh(id).copy(_1 = live(id)._1); live(id) = v
          Row.fromSeq("U" +: row(id, v).toSeq)
        } else {
          val v = live.remove(id).get
          val at = keys.indexOf(id); keys(at) = keys.last; keys.remove(keys.size - 1)
          Row.fromSeq("D" +: row(id, v).toSeq)
        }
      }
    }
    spark.createDataFrame(rows.asJava, feedSchema).coalesce(1).write.mode("append").parquet(feed)
    (rows.size.toLong, rows.map(_.mkString("|").length.toLong).sum)
  }

  def op(k: Int, tracer: Option[Tracer]): OpResult = {
    val arrived = (0 until FilesPerRound).map(_ => arrive())
    val changes = arrived.map(_._1).sum
    val before = tracer.map(_ => Fs.files(replica))
    tracer.foreach(_.begin())
    val (q, streamS) = timed {
      val q = EventStream.cdcSinkMorExactlyOnce(
        spark.readStream.schema(feedSchema).option("maxFilesPerTrigger", 1).parquet(feed),
        replica, "id", ckpt)
      q.awaitTermination()
      q
    }
    // the read sees one round of merge-on-read debt; compaction then repays it
    val readS = Stats.median((1 to ReadRepeats).map(_ => timed(noop(DeletionVectors.dvRead(spark, replica)))._2))
    val preCompact = tracer.map(_ => Fs.files(replica))
    val (compacted, compactS) = timed(DeletionVectors.maybeCompact(spark, replica, Policy))
    val afterCompact = tracer.map(_ => Fs.files(replica))
    val fig = tracer.map(_.end()).getOrElse(Map.empty)
    val batchS = q.recentProgress.filter(_.numInputRows > 0)
      .map(_.durationMs.get("triggerExecution").longValue / 1e3).toSeq

    val got = Digest.ofFrame(DeletionVectors.dvRead(spark, replica), cols)
    val want = Digest.ofStrings(live.iterator.map { case (id, v) => s"$id|${v._1}|${v._2}|${v._3}|${v._4}" })
    val firstFile = Fs.files(feed).keys.filter(_.endsWith(".parquet")).toSeq.min
    val replayed = DeletionVectors.morApplyCdc(spark, replica, spark.read.schema(feedSchema).parquet(firstFile), "id", 0L)
    if (got != want || replayed)
      System.err.println(s"[shopbench] round $k: replica $got, expected $want, batch 0 replayed=$replayed")
    val layer = if (tracer.isEmpty) Map.empty[String, Double] else {
      val diff = fileDiff(before.get, afterCompact.get)
      val rewritten = if (compacted) (preCompact.get.keySet -- afterCompact.get.keySet)
        .filter(_.endsWith(".parquet")).toSeq.map(preCompact.get).sum.toDouble else 0.0
      fig ++ diff ++ Map(
        "store.dv_sidecar_bytes" -> DeletionVectors.vectorBytes(spark, replica).toDouble,
        "store.mor_files" -> afterCompact.get.keys.count(p => p.split('/').last.startsWith("mor-")).toDouble,
        "store.compact_s" -> compactS,
        "store.compact_bytes_rewritten" -> rewritten,
        "store.write_amp" -> fig.getOrElse("store.bytes_written", 0.0) / arrived.map(_._2).sum)
    }
    OpResult(Map("op" -> streamS, "read" -> readS, "changes_per_s" -> changes / streamS,
      "compact" -> compactS) ++ batchS.zipWithIndex.map { case (b, i) => s"batch$i" -> b },
      got == want && !replayed, layer)
  }

  def finish(): (Boolean, Double) =
    (true, Fs.bytes(replica).toDouble / canonicalBytes(DeletionVectors.dvRead(spark, replica)))
}
