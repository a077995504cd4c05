package graft.queries

import java.time.LocalDate
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Invoice-number assignment (`/root/reference/db.py:409-483`): date-window
  * the view, build a distinct ("ORDER NO", payment_tag) index, number it
  * with a start offset, and join it back onto the view — the range
  * restriction of the full view happens *via the join* (filtering-by-join,
  * SURVEY §3 E2), not by filtering the view itself.
  *
  * Divergence (documented, SURVEY §2.5 W3): the reference numbers with
  * `ROW_NUMBER() OVER ()` — arbitrary order. We impose
  * ORDER BY ("ORDER NO", payment_tag): deterministic, still dense from
  * `invoiceStartId`.
  */
object InvoiceNumbers {

  /** The numbered invoices for `[fromDate, toDate]`: builds the view
    * ([[InvoiceView.tripletexInvoice]]) and numbers it.
    *
    * The pair index is built from [[InvoiceView.tripletexInvoicePairDates]]
    * — a NARROW source of (ORDER NO, payment_tag, INVOICE DATE) rows with
    * the same pair/date content as the view — so the wide view is traversed
    * exactly once, by the final join. The inner join reproduces the
    * reference's RIGHT join (`db.py:459-469`, spec-asserted in
    * GoldenE2ESpec) because every index pair has ≥1 view row by
    * construction; a pair whose dates straddle the range keeps ALL its
    * rows. The only single-partition work is the row_number over the
    * distinct pair index (orders × tags — far smaller than the line-level
    * view), and the numbered index broadcasts back onto the view.
    */
  def numberInvoices(t: InvoiceView.Tables, fromDate: LocalDate, toDate: LocalDate,
                     invoiceStartId: Long): DataFrame = {
    val ind = InvoiceView.tripletexInvoicePairDates(t)
      .filter(col("INVOICE DATE").between(lit(fromDate.toString).cast("date"),
        lit(toDate.toString).cast("date")))
      .select(col("ORDER NO"), col("payment_tag")).distinct()
      .withColumn("INVOICE NO",
        row_number().over(Window.orderBy(col("ORDER NO"), col("payment_tag"))).cast("long") +
          lit(invoiceStartId) - 1)
    InvoiceView.tripletexInvoice(t)
      .join(broadcast(ind), Seq("ORDER NO", "payment_tag"))
      .select(
        col("transaction_id"), col("order_id"), col("CUSTOMER NO"), col("CUSTOMER NAME"),
        col("ORDER NO"), col("PAID AMOUNT"), col("PAYMENT TYPE"),
        col("ORDER LINE - COUNT"), col("ORDER LINE - PROD NAME"),
        col("ORDER LINE - UNIT PRICE"), col("ORDER LINE - DISCOUNT"),
        col("ORDER LINE - VAT CODE"), col("ORDER LINE - DESCRIPTION"),
        col("ORDER LINE - PROD NO"), col("INVOICE DATE"), col("DELIVERY DATE"),
        col("ORDER DATE"), col("DUE DATE"), col("INVOICE NO"))
      .orderBy(col("INVOICE NO"), col("CUSTOMER NAME"))
  }

  /** F15 (`tripletex.py:194-201`): map-driven gateway rename with identity
    * fallback.
    */
  def replaceInvoiceGateway(df: DataFrame, renames: Map[String, String]): DataFrame = {
    val c = renames.foldLeft(col("PAYMENT TYPE")) { case (acc, (from, to)) =>
      when(col("PAYMENT TYPE") === from, to).otherwise(acc)
    }
    df.withColumn("PAYMENT TYPE", c)
  }
}
