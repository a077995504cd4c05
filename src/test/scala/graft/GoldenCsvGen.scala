package graft

import java.time.LocalDate
import org.apache.spark.sql.SparkSession
import graft.ingest.{IngestPipeline, ShopifyClient}
import graft.io.InvoiceCsv
import graft.queries.InvoiceNumbers
import graft.store.ShopifyStore

/** One-shot generator for the checked-in golden CSV
  * (src/test/resources/golden_invoices.csv): run after INTENTIONAL
  * output-contract changes, then review the diff by hand.
  *
  *   sbt 'Test/runMain graft.GoldenCsvGen'
  */
object GoldenCsvGen {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val dir = java.nio.file.Files.createTempDirectory("golden-gen").toString
    val store = new ShopifyStore(spark, dir)
    val client = new ShopifyClient(
      new ShopifyClient.FixtureTransport(Fixtures.transportFixtures), Fixtures.base)
    IngestPipeline.shopifyUpdate(spark, store, client,
      Some("2021-05-01"), Some("2021-05-31"))
    val numbered = InvoiceNumbers.replaceInvoiceGateway(
      InvoiceNumbers.numberInvoices(store.invoiceTables,
        LocalDate.parse("2021-05-01"), LocalDate.parse("2021-05-31"), 100),
      Map("vipps" -> "Vipps", "stripe" -> "Stripe"))
    val out = "src/test/resources/golden_invoices.csv"
    InvoiceCsv.write(numbered, out)
    println(s"golden written to $out")
    spark.stop()
  }
}
