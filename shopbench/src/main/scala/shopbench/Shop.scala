package shopbench

import java.time.{Instant, LocalDate, ZoneOffset}

/** SplitMix64-style mixing: every generated value is a pure function of
  * (seed, tag, indexes), so any record renders on demand in any thread.
  */
object Mix {
  def mix(x0: Long): Long = {
    var z = x0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def hash(seed: Long, parts: Long*): Long = parts.foldLeft(mix(seed))((h, p) => mix(h ^ p))
  def unit(seed: Long, parts: Long*): Double = (hash(seed, parts: _*) >>> 11) * (1.0 / (1L << 53))
  def below(n: Int, seed: Long, parts: Long*): Int = java.lang.Math.floorMod(hash(seed, parts: _*), n.toLong).toInt
}

final case class Customer(id: Long, first: String, last: String, email: String,
                          phone: Option[String], addressPhone: String, createdAt: Long)
final case class Variant(id: Long, productId: Long, priceCents: Long, title: String, sku: String)
final case class Product(id: Long, title: String, createdAt: Long, variants: Seq[Variant])
final case class LineItem(id: Long, productId: Long, title: String, variantTitle: String,
                          sku: String, priceCents: Long, qty: Int, discCents: Long) {
  def totalCents: Long = priceCents * qty
}
final case class Txn(id: Long, kind: String, status: String, gateway: String,
                     amountCents: Long, createdAt: Long, processedAt: Long)
final case class Order(id: Long, name: String, customerId: Long, createdAt: Long,
                       lines: Seq[LineItem], shipId: Long, shipPriceCents: Long,
                       shipDiscountedCents: Long, txns: Seq[Txn]) {
  def paidCents: Long = lines.map(l => l.totalCents - l.discCents).sum + shipDiscountedCents
}

/** A seeded synthetic shop with orders on `days` days from `start`.
  * Customers and products predate the first order day; order `i` is created
  * on day `dayOf(i)` with strictly increasing `created_at`, so order names
  * (`#1001`, `#1002`, ...) are dense in time. Every order is `paid`, with no
  * refunds. Ids are disjoint per record kind.
  */
final case class ShopSpec(seed: Long, customers: Int, products: Int, ordersPerDay: Int,
                          days: Int) {
  import ShopSpec._
  val start: LocalDate = Start
  require(products >= 32, "line items pick distinct products with stride 7")
  require(ordersPerDay >= 2, "every day needs at least one order")

  val startEpoch: Long = start.atStartOfDay(ZoneOffset.UTC).toEpochSecond

  /** Orders created on day `d` (days counted from `start`): within 10% of
    * `ordersPerDay`, so shops of one size differ little between seeds.
    */
  def ordersOn(d: Int): Int = {
    val spread = ordersPerDay / 10
    ordersPerDay - spread + Mix.below(2 * spread + 1, seed, TagDay, d)
  }

  @transient private lazy val firstOrder: Array[Long] =
    (0 until days).scanLeft(0L)((acc, d) => acc + ordersOn(d)).toArray

  /** Index of the first order of day `d`. */
  def firstOrderOf(d: Int): Long = firstOrder(d)

  def dayOf(i: Long): Int = {
    val k = java.util.Arrays.binarySearch(firstOrder, i)
    if (k >= 0) k else -k - 2
  }

  def orderCount: Long = firstOrder(days)

  /** Order indexes created on days `[lo, hi]`, clipped to the shop's days. */
  def ordersBetween(lo: Int, hi: Int): (Long, Long) = {
    val l = math.max(0, lo); val h = math.min(days - 1, hi)
    if (h < l) (0L, 0L) else (firstOrder(l), firstOrder(h + 1))
  }

  def customer(c: Int): Customer = {
    val first = Firsts(Mix.below(Firsts.length, seed, TagCust, c, 1))
    val last = Lasts(Mix.below(Lasts.length, seed, TagCust, c, 2))
    val phone = f"+47${40000000 + Mix.below(9999999, seed, TagCust, c, 3)}%d"
    Customer(CustomerBase + c, first, last, s"${first.toLowerCase}.${last.toLowerCase}$c@example.no",
      if (Mix.unit(seed, TagCust, c, 4) < 0.3) None else Some(phone), phone,
      startEpoch - 400L * 86400 + c * 3600L)
  }

  def product(p: Int): Product = {
    val id = ProductBase + p
    val nv = 1 + Mix.below(3, seed, TagProd, p)
    Product(id, s"Product $p", startEpoch - 400L * 86400 + p * 600L,
      (0 until nv).map(v => Variant(VariantBase + p * 4L + v, id,
        500 + 100L * Mix.below(200, seed, TagProd, p, v), Sizes(v), s"SKU-$p-$v")))
  }

  def order(i: Long): Order = {
    val d = dayOf(i)
    val n = ordersOn(d)
    val slot = 86400L / math.max(1, n)
    val created = startEpoch + d * 86400L + (i - firstOrderOf(d)) * slot + Mix.below(math.max(1, slot.toInt), seed, TagOrder, i, 1)
    val nLines = 1 + Mix.below(3, seed, TagOrder, i, 2)
    val p0 = Mix.below(products, seed, TagOrder, i, 3)
    val lines = (0 until nLines).map { j =>
      val p = product((p0 + 7 * j) % products)
      val v = p.variants(Mix.below(p.variants.size, seed, TagOrder, i, 10 + j))
      val qty = 1 + Mix.below(3, seed, TagOrder, i, 20 + j)
      val disc = if (Mix.unit(seed, TagOrder, i, 30 + j) < 0.3)
        v.priceCents * qty * (1 + Mix.below(20, seed, TagOrder, i, 40 + j)) / 100 else 0L
      LineItem(LineBase + i * 4 + j, p.id, p.title, v.title, v.sku, v.priceCents, qty, disc)
    }
    val shipPrice = if (Mix.unit(seed, TagOrder, i, 5) < 0.5) 4900L else 9900L
    val shipDiscounted = if (Mix.unit(seed, TagOrder, i, 6) < 0.2) 0L else shipPrice
    val paid = lines.map(l => l.totalCents - l.discCents).sum + shipDiscounted
    val gateway = Gateways(Mix.below(Gateways.length, seed, TagOrder, i, 7))
    val nTx = 1 + Mix.below(3, seed, TagOrder, i, 8)
    val payments = (0 until nTx).map { k =>
      val status = if (k == 2) "failure" else "success"
      Txn(TxnBase + i * 8 + k, PaymentKinds(k), status, gateway, paid,
        created + 60L * (k + 1), created + 60L * (k + 1) + 5)
    }
    Order(OrderBase + i, s"#${1001 + i}", CustomerBase + Mix.below(customers, seed, TagOrder, i, 4),
      created, lines, ShipBase + i, shipPrice, shipDiscounted, payments)
  }
}

object ShopSpec {
  val Start: LocalDate = LocalDate.of(2023, 1, 1)
  val CustomerBase = 6100000000L
  val ProductBase = 7000000000L
  val VariantBase = 8000000000L
  val OrderBase = 5000000000L
  val LineBase = 6500000000L
  val ShipBase = 4000000000L
  val TxnBase = 3000000000L
  private val TagDay = 1L; private val TagCust = 2L; private val TagProd = 3L; private val TagOrder = 4L
  val Gateways: Seq[String] = Seq("shopify_payments", "vipps", "stripe")
  /** Gateway renames handed to `tripletex-generate`; every gateway is covered. */
  val GatewayRenames: Seq[(String, String)] =
    Seq("shopify_payments" -> "Shopify", "vipps" -> "Vipps", "stripe" -> "Stripe")
  private val PaymentKinds = Seq("authorization", "capture", "sale")
  private val Sizes = Seq("S", "M", "L")
  private val Firsts = Seq("Ola", "Kari", "Nils", "Ingrid", "Per", "Anne", "Lars", "Sofie")
  private val Lasts = Seq("Nordmann", "Hansen", "Johansen", "Olsen", "Larsen", "Berg")

  def iso(epochSec: Long): String = Instant.ofEpochSecond(epochSec).toString.replace("Z", "+00:00")
  def money(cents: Long): String = {
    val a = math.abs(cents)
    (if (cents < 0) "-" else "") + (a / 100) + "." + f"${a % 100}%02d"
  }
}
