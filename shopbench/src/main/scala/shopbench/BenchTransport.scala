package shopbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import graft.ingest.ShopifyClient.{HttpResponse, Transport}
import ShopSpec.{iso, money}

/** Process-wide request counters. Fan-out tasks run on deserialized copies
  * of the transport, so the counts live here rather than on an instance.
  */
object TransportStats {
  val requests = new AtomicLong
  val throttled = new AtomicLong
  val useful = new AtomicLong
  val getNanos = new AtomicLong
  val pageLoopNanos = new AtomicLong
  val bodyBytes = new AtomicLong
  private[shopbench] val throttledKeys = ConcurrentHashMap.newKeySet[String]()

  final case class Snapshot(requests: Long, throttled: Long, useful: Long,
                            getNanos: Long, pageLoopNanos: Long, bodyBytes: Long) {
    def minus(o: Snapshot): Snapshot = Snapshot(requests - o.requests, throttled - o.throttled,
      useful - o.useful, getNanos - o.getNanos, pageLoopNanos - o.pageLoopNanos,
      bodyBytes - o.bodyBytes)
  }
  def snapshot(): Snapshot = Snapshot(requests.get, throttled.get, useful.get, getNanos.get,
    pageLoopNanos.get, bodyBytes.get)
}

/** In-process Shopify API over a [[ShopSpec]]: every body is rendered on
  * demand from (seed, endpoint, cursor or order id), so only the small shop
  * description travels to the fan-out tasks.
  *
  * Each request sleeps `delayMs` before replying. A seeded `throttleShare` of
  * distinct requests per operation (`opId`) answers 429 once; the retry
  * succeeds.
  */
final class BenchTransport(spec: ShopSpec, opId: Long, delayMs: Long,
                           throttleShare: Double) extends Transport {
  import BenchTransport._

  def get(url: String, params: Map[String, String]): HttpResponse = {
    val t0 = System.nanoTime()
    if (delayMs > 0) Thread.sleep(delayMs)
    val path = url.stripPrefix(BaseUrl)
    val key = path + params.toSeq.sorted.mkString("?", "&", "")
    TransportStats.requests.incrementAndGet()
    val resp =
      if (Mix.unit(spec.seed, opId, key.hashCode.toLong, key.length.toLong) < throttleShare &&
          TransportStats.throttledKeys.add(s"$opId|$key")) {
        TransportStats.throttled.incrementAndGet()
        HttpResponse(429, "Too Many Requests", Map.empty, "{}")
      } else route(path, params)
    val dt = System.nanoTime() - t0
    TransportStats.getNanos.addAndGet(dt)
    if (!path.startsWith("orders/")) TransportStats.pageLoopNanos.addAndGet(dt)
    resp
  }

  private def route(path: String, params: Map[String, String]): HttpResponse = path match {
    // every sync of the benchmark is a full sync: date-bounded listings are not served
    case _ if params.keySet.exists(_.startsWith("created_at")) =>
      HttpResponse(400, "Bad Request", Map.empty, "{}")
    case "customers.json" | "products.json" | "orders.json" =>
      val limit = params.getOrElse("limit", "250").toInt
      val (lo, hi, pos) = params.get("page_info") match {
        case Some(c) => val Array(a, b, p) = c.split('.').map(_.toLong); (a, b, p)
        case None =>
          val n = path match {
            case "customers.json" => spec.customers.toLong
            case "products.json"  => spec.products.toLong
            case _                => spec.orderCount
          }
          (0L, n, 0L)
      }
      val end = math.min(hi, pos + limit)
      val field = path.stripSuffix(".json")
      val items = (pos until end).map(i => path match {
        case "customers.json" => customerJson(spec.customer(i.toInt))
        case "products.json"  => productJson(spec.product(i.toInt))
        case _                => orderJson(spec.order(i))
      })
      val headers =
        if (end < hi) Map("Link" -> s"""<$BaseUrl$path?limit=$limit&page_info=$lo.$hi.$end>; rel="next"""")
        else Map.empty[String, String]
      ok(s"""{"$field":[${items.mkString(",")}]}""", items.nonEmpty, headers)
    case OrderSub(id, "transactions") =>
      val o = spec.order(id.toLong - ShopSpec.OrderBase)
      ok(s"""{"transactions":[${o.txns.map(txnJson(o, _)).mkString(",")}]}""", o.txns.nonEmpty)
    case _ => HttpResponse(404, "Not Found", Map.empty, "{}")
  }

  private def ok(body: String, useful: Boolean,
                 headers: Map[String, String] = Map.empty): HttpResponse = {
    if (useful) TransportStats.useful.incrementAndGet()
    TransportStats.bodyBytes.addAndGet(body.length)
    HttpResponse(200, "OK", headers, body)
  }
}

object BenchTransport {
  val BaseUrl = "https://bench.myshopify.com/admin/api/2021-07/"
  private val OrderSub = """orders/(\d+)/(\w+)\.json""".r

  private def q(s: String) = "\"" + s + "\""
  private def qo(s: Option[String]) = s.map(q).getOrElse("null")

  def customerJson(c: Customer): String =
    s"""{"id":${c.id},"email":${q(c.email)},"first_name":${q(c.first)},"last_name":${q(c.last)},""" +
      s""""phone":${qo(c.phone)},"note":null,"total_spent":"0.00","verified_email":true,""" +
      s""""accepts_marketing":false,"created_at":${q(iso(c.createdAt))},"updated_at":${q(iso(c.createdAt))},""" +
      s""""default_address":{"name":${q(c.first + " " + c.last)},"address1":"Gata 1","city":"Oslo",""" +
      s""""zip":"0150","country":"Norway","phone":${q(c.addressPhone)},"latitude":59.9,"longitude":10.7}}"""

  def productJson(p: Product): String =
    s"""{"id":${p.id},"title":${q(p.title)},"status":"active","product_type":"Apparel","vendor":"Bench",""" +
      s""""created_at":${q(iso(p.createdAt))},"updated_at":${q(iso(p.createdAt))},"variants":[""" +
      p.variants.map(v =>
        s"""{"id":${v.id},"product_id":${v.productId},"price":${q(money(v.priceCents))},""" +
          s""""title":${q(v.title)},"sku":${q(v.sku)},"option1":${q(v.title)},"option2":null,""" +
          s""""option3":null,"created_at":${q(iso(p.createdAt))},"updated_at":${q(iso(p.createdAt))}}"""
      ).mkString(",") + "]}"

  def orderJson(o: Order): String = {
    val lines = o.lines.map { l =>
      val disc = if (l.discCents > 0) s"""{"amount":${q(money(l.discCents))}}""" else ""
      s"""{"id":${l.id},"product_id":${l.productId},"title":${q(l.title)},""" +
        s""""variant_title":${q(l.variantTitle)},"sku":${q(l.sku)},"price":${q(money(l.priceCents))},""" +
        s""""quantity":${l.qty},"vendor":"Bench","taxable":true,""" +
        s""""tax_lines":[{"price":${q(money(l.totalCents / 5))},"rate":0.25,"title":"MVA"}],""" +
        s""""price_set":{"presentment_money":{"amount":${q(money(l.priceCents))},"currency_code":"NOK"}},""" +
        s""""discount_allocations":[$disc]}"""
    }
    val ship =
      s"""{"id":${o.shipId},"code":"Standard","price":${q(money(o.shipPriceCents))},""" +
        s""""discounted_price":${q(money(o.shipDiscountedCents))},"title":"Posten","source":"shopify",""" +
        s""""phone":null,"tax_lines":[],"price_set":{"presentment_money":""" +
        s"""{"amount":${q(money(o.shipPriceCents))},"currency_code":"NOK"}}}"""
    val itemsTotal = o.lines.map(_.totalCents).sum
    s"""{"id":${o.id},"name":${q(o.name)},"customer":{"id":${o.customerId}},""" +
      s""""financial_status":"paid","fulfillment_status":"fulfilled",""" +
      s""""total_price":${q(money(o.paidCents))},"total_line_items_price":${q(money(itemsTotal))},""" +
      s""""total_discounts":${q(money(o.lines.map(_.discCents).sum))},"total_tax":${q(money(o.paidCents / 5))},""" +
      s""""taxes_included":true,"currency":"NOK","created_at":${q(iso(o.createdAt))},"closed_at":null,""" +
      s""""processed_at":${q(iso(o.createdAt))},"billing_address":{"name":"Bench","address1":"Gata 1",""" +
      s""""city":"Oslo","zip":"0150","country":"Norway","phone":null,"latitude":59.9,"longitude":10.7},""" +
      s""""line_items":[${lines.mkString(",")}],"shipping_lines":[$ship]}"""
  }

  def txnJson(o: Order, t: Txn): String =
    s"""{"id":${t.id},"order_id":${o.id},"status":${q(t.status)},"amount":${q(money(t.amountCents))},""" +
      s""""currency":"NOK","error_code":null,"gateway":${q(t.gateway)},"kind":${q(t.kind)},""" +
      s""""created_at":${q(iso(t.createdAt))},"processed_at":${q(iso(t.processedAt))}}"""
}
