package shopbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** Order-independent content digest: row count plus the sum of a 31-bit
  * hash of each row's `|`-joined columns. Computed the same way in Spark
  * over stored rows and on the driver over the generator's expected rows.
  */
final case class Digest(rows: Long, sum: Long) {
  def +(o: Digest): Digest = Digest(rows + o.rows, sum + o.sum)
}

object Digest {
  val Empty: Digest = Digest(0, 0)

  def ofStrings(rows: Iterator[String]): Digest =
    rows.foldLeft(Empty)((d, s) => d + Digest(1, hash31(s)))

  def hash31(s: String): Long =
    XxHash64Function.hash(UTF8String.fromString(s), StringType, 42L) >>> 33

  /** The per-row hash [[hash31]] computes, as a Spark column. */
  def hashColumn(cols: Seq[Column]): Column =
    shiftrightunsigned(xxhash64(concat_ws("|", cols.map(_.cast("string")): _*)), 33)

  /** Digest of `df` over `cols`; money columns are compared in cents. */
  def ofFrame(df: DataFrame, cols: Seq[Column]): Digest = {
    val r = df.agg(count(lit(1)), coalesce(sum(hashColumn(cols)), lit(0L))).head()
    Digest(r.getLong(0), r.getLong(1))
  }

  def cents(c: String): Column = (col(c) * 100).cast("long")
}

/** What the invoice month must produce, from the generator alone. */
object Expect {

  /** Columns of the invoice CSV the month check digests. */
  val InvoiceColumns: Seq[Column] = Seq(col("ORDER NO"), col("INVOICE NO"), Digest.cents("PAID AMOUNT"),
    col("ORDER LINE - COUNT"), Digest.cents("ORDER LINE - UNIT PRICE"), col("ORDER LINE - PROD NO"),
    col("PAYMENT TYPE"))

  /** Expected invoice lines for the orders created in `[fromDay, toDay]`,
    * numbered from `startId` in `ORDER NO` order (the shop has no refunds,
    * so every invoice is a payment invoice).
    */
  def invoices(spec: ShopSpec, fromDay: Int, toDay: Int, startId: Long): (Long, Digest) = {
    val renames = ShopSpec.GatewayRenames.toMap
    val (lo, hi) = spec.ordersBetween(fromDay, toDay)
    val orders = (lo until hi).map(spec.order)
    val numbered = orders.sortBy(_.name).zipWithIndex
    val rows = numbered.iterator.flatMap { case (o, k) =>
      val no = startId + k
      val pay = o.txns.find(_.status == "success").get
      val gw = renames(pay.gateway)
      o.lines.map(l => s"${o.name}|$no|${o.paidCents}|${l.qty}|${l.priceCents}|${l.sku}|$gw") :+
        s"${o.name}|$no|${o.paidCents}|1|${o.shipPriceCents}|SHIPPING|$gw"
    }
    (orders.size.toLong, Digest.ofStrings(rows))
  }
}
