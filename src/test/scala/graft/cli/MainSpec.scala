package graft.cli

import java.nio.file.Files
import graft.{Fixtures, SparkSuite}

/** Drives the four CLI subcommands end-to-end (E1–E3 +
  * tripletex-verify) through Main.run — the user-facing surface.
  */
class MainSpec extends SparkSuite {

  private lazy val workDir = Files.createTempDirectory("cli").toString
  private lazy val storeDir = s"$workDir/store"

  private lazy val fixturesFile: String = {
    // flat {url: body} JSON via Jackson (same parser Main uses)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.createObjectNode()
    Fixtures.transportFixtures.foreach { case (k, v) => node.put(k, v) }
    val f = s"$workDir/fixtures.json"
    Files.writeString(java.nio.file.Paths.get(f), mapper.writeValueAsString(node))
    f
  }

  test("shopify-update ingests from a fixture file") {
    Main.run(spark, "shopify-update", Map(
      "store" -> storeDir, "fixtures" -> fixturesFile,
      "base-url" -> Fixtures.base,
      "from-date" -> "2021-05-01", "to-date" -> "2021-05-31"), Nil)
    assert(new graft.store.ShopifyStore(spark, storeDir).read("orders").count() == 3)
  }

  test("tripletex-generate leaves no persisted RDDs behind") {
    // runs before any other generate on this store: a later call would find
    // its frames already cached by an earlier one. The session is shared by
    // every suite, so compare ids, not counts.
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    Main.run(spark, "tripletex-generate", Map(
      "store" -> storeDir, "from-date" -> "2021-05-01", "to-date" -> "2021-05-31",
      "invoice-start-id" -> "100", "out" -> s"$workDir/invoices-cache-check.csv"),
      Seq("vipps" -> "Vipps", "stripe" -> "Stripe"))
    val added = spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
    assert(added.isEmpty, s"persisted RDDs left behind: $added")
  }

  test("tripletex-generate writes the invoice CSV") {
    val out = s"$workDir/invoices.csv"
    Main.run(spark, "tripletex-generate", Map(
      "store" -> storeDir, "from-date" -> "2021-05-01", "to-date" -> "2021-05-31",
      "invoice-start-id" -> "100", "out" -> out),
      Seq("vipps" -> "Vipps", "stripe" -> "Stripe"))
    def lines(p: String) =
      scala.jdk.CollectionConverters.ListHasAsScala(
        Files.readAllLines(java.nio.file.Paths.get(p))).asScala.toSeq
    val got = lines(out)
    assert(got.head.split(";").length == 17)
    assert(got.size == 8) // header + 7 invoice lines
    // same fixtures, range, start id and renames as GoldenE2ESpec: the body
    // must equal the golden file's as a sorted multiset
    val golden = lines("src/test/resources/golden_invoices.csv")
    assert(got.head == golden.head, "header must match exactly")
    assert(got.tail.sorted == golden.tail.sorted)
  }

  test("tripletex-verify re-checks a written CSV") {
    Main.run(spark, "tripletex-verify", Map("in" -> s"$workDir/invoices.csv"),
      Seq("vipps" -> "Vipps", "stripe" -> "Stripe"))
  }

  test("heatmap renders HTML from the store") {
    val out = s"$workDir/heatmap.html"
    Main.run(spark, "heatmap", Map("store" -> storeDir, "out" -> out), Nil)
    assert(Files.readString(java.nio.file.Paths.get(out)).contains("<canvas"))
  }

  test("unknown subcommand fails cleanly") {
    intercept[IllegalArgumentException] {
      Main.run(spark, "bogus", Map.empty, Nil)
    }
  }
}
