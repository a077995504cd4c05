package shopbench

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.ingest.{IngestPipeline, ShopifyClient}

/** Self-tests of the benchmark harness: the statistics it reports, how it
  * attributes work to layers, the generator it checks against, and the
  * denominator of `store_bytes_per_user_byte`.
  */
class HarnessSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder().master("local[2]").appName("shopbench-test")
    .config("spark.ui.enabled", "false").config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.shuffle.partitions", "2").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("median of odd and even sample counts") {
    assert(Stats.median(Seq(3.0, 1, 2)) == 2.0)
    assert(Stats.median(Seq(3.0, 1, 2, 10)) == 2.5)
  }

  test("tail is the highest percentile with at least ten samples beyond it") {
    def tailOf(n: Int) = Stats.tail((1 to n).map(_.toDouble))
    assert(tailOf(19).isEmpty)
    assert(tailOf(20) == Some(50 -> 10.0))
    assert(tailOf(39).map(_._1) == Some(50))
    assert(tailOf(40) == Some(75 -> 30.0))
    assert(tailOf(100) == Some(90 -> 90.0))
    assert(tailOf(200) == Some(95 -> 190.0))
    assert(tailOf(1000) == Some(99 -> 990.0))
    // the sample count, not the values, picks the percentile
    assert(Stats.tail(Seq.fill(40)(1.0) ++ Seq.fill(10)(9.0)) == Some(75 -> 1.0))
  }

  test("call sites are charged to the innermost program layer") {
    val site = Seq(
      "org.apache.spark.sql.Dataset.collect(Dataset.scala:3473)",
      "graft.store.TableStore$.upsertPartitioned(TableStore.scala:812)",
      "graft.store.ShopifyStore.upsert(ShopifyStore.scala:101)",
      "graft.ingest.IngestPipeline$.shopifyUpdate(IngestPipeline.scala:60)",
      "shopbench.InvoiceMonth.setup(Workloads.scala:180)").mkString("\n")
    assert(Layers.ofCallSite(site, streaming = false) == "store")
    assert(Layers.ofCallSite("graft.verify.Checks$.refunds(Checks.scala:60)\n" +
      "graft.cli.Main$.run(Main.scala:90)", streaming = false) == "verify")
    assert(Layers.ofCallSite("graft.operators.DeletionVectors$.morApplyCdc(DeletionVectors.scala:490)\n" +
      "graft.streaming.EventStream$.$anonfun$cdcSinkMorExactlyOnce$1(EventStream.scala:310)",
      streaming = true) == "store")
    assert(Layers.ofCallSite("graft.io.InvoiceCsv$.write(InvoiceCsv.scala:24)", streaming = false) == "io")
    assert(Layers.ofCallSite("graft.queries.InvoiceView$.x(InvoiceView.scala:1)", streaming = false) == "queries")
    assert(Layers.ofCallSite("org.apache.spark.sql.execution.X.y(X.scala:1)", streaming = true) == "streaming")
    assert(Layers.ofCallSite("", streaming = false) == "spark")
    assert(Layers.ofCallSite("shopbench.Digest$.ofFrame(Expect.scala:29)", streaming = false) == "bench")
  }

  test("the generator and the transport are deterministic per seed") {
    val a = ShopSpec(7, 50, 40, 6, days = 4)
    val b = ShopSpec(7, 50, 40, 6, days = 4)
    val c = ShopSpec(8, 50, 40, 6, days = 4)
    def pages(v: ShopSpec) = {
      val t = new BenchTransport(v, opId = 1, delayMs = 0, throttleShare = 0.0)
      val client = new ShopifyClient(t, BenchTransport.BaseUrl)
      client.fetchAll("orders.json", IngestPipeline.orderFields, limit = 7) ++
        client.fetchAll("customers.json", IngestPipeline.customerFields, limit = 7) ++
        (0L until v.orderCount).map(i => client.fetchOrderResource(ShopSpec.OrderBase + i,
          "transactions", IngestPipeline.transactionFields))
    }
    assert(pages(a) == pages(b))
    assert(pages(a) != pages(c))
    // paging returns every visible order exactly once
    val ids = pages(a).take(((a.orderCount + 6) / 7).toInt)
      .flatMap(p => "\"name\":\"#(\\d+)\"".r.findAllMatchIn(p).map(_.group(1).toLong))
    assert(ids == (1001L until 1001L + a.orderCount))
  }

  test("throttled requests answer 429 once and are retried") {
    val v = ShopSpec(3, 50, 40, 6, days = 2)
    val t = new BenchTransport(v, opId = 99, delayMs = 0, throttleShare = 1.0)
    val before = TransportStats.snapshot()
    val client = new ShopifyClient(t, BenchTransport.BaseUrl, retryWaitMs = 1)
    client.fetchAll("products.json", IngestPipeline.productFields)
    val d = TransportStats.snapshot().minus(before)
    assert(d.requests == 2 && d.throttled == 1 && d.useful == 1)
  }

  test("driver-side and Spark digests agree") {
    import spark.implicits._
    val rows = Seq((1L, "a", 1250L), (2L, "b", 0L), (3L, "c", 99L))
    val df = rows.toDF("id", "name", "cents")
    val inSpark = Digest.ofFrame(df, Seq($"id", $"name", $"cents"))
    val driver = Digest.ofStrings(rows.iterator.map { case (i, n, c) => s"$i|$n|$c" })
    assert(inSpark == driver && inSpark.rows == 3)
  }

  test("store_bytes_per_user_byte divides by the canonical bytes of live rows") {
    import spark.implicits._
    val a = Seq((1L, "ab", Option(2.5)), (22L, "é", None)).toDF("id", "s", "x")
    val b = Seq(("zz", 7)).toDF("k", "v")
    // "1|ab|2.5" = 8 bytes, "22|é" = 5 bytes (é is two UTF-8 bytes, the null
    // column is skipped), "zz|7" = 4 bytes
    assert(Workloads.canonicalBytes(a) == 13)
    assert(Workloads.canonicalBytes(a, b) == 17)
  }
}
