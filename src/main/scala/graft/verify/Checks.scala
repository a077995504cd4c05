package graft.verify

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The reference's runtime invariant suite (`/root/reference/tripletex.py:
  * 30-242`) — 8 checks over the numbered invoice frame, each returning a
  * pass/fail [[Finding]] with the reference's exact warning text.
  *
  * Divergence (documented, SURVEY §7.4 risk 7): `_none_values` in the
  * reference returns only the LAST column's status (`tripletex.py:42`, a
  * bug); here a missing value in ANY required column fails the check. The
  * warning messages are unchanged.
  *
  * Scale: every check is a distributed filter/agg; only the (small) warning
  * lists are collected for message text, mirroring what the reference logs.
  */
object Checks {

  final case class Finding(check: String, passed: Boolean, warnings: Seq[String])

  val requiredFields: Seq[String] = Seq(
    "CUSTOMER NO", "ORDER NO", "PAID AMOUNT", "ORDER LINE - COUNT",
    "ORDER LINE - UNIT PRICE", "ORDER LINE - VAT CODE", "PAYMENT TYPE",
    "INVOICE DATE", "DELIVERY DATE", "ORDER DATE", "DUE DATE", "INVOICE NO")

  /** `tripletex.py:204-242` entry: empty-string → null normalization (P10)
    * then all 8 checks.
    */
  def verifyInvoices(raw: DataFrame, knownGateways: Option[Seq[String]]): Seq[Finding] = {
    val df = normalizeEmpty(raw).cache()
    val out = Seq(
      refunds(df), giftCards(df), orderNo(df), invoiceNo(df),
      noneValues(df), descriptionOrSku(df), price(df),
      unknownGateway(df, knownGateways))
    df.unpersist()
    out
  }

  def passed(findings: Seq[Finding]): Boolean = findings.forall(_.passed)

  /** P10 (`tripletex.py:210-211`): '' → null on string columns. */
  def normalizeEmpty(df: DataFrame): DataFrame =
    df.schema.fields.filter(_.dataType == org.apache.spark.sql.types.StringType)
      .foldLeft(df)((d, f) =>
        d.withColumn(f.name, when(col(f.name) === "", lit(null)).otherwise(col(f.name))))

  private def distinctOrders(df: DataFrame, cond: org.apache.spark.sql.Column): Seq[String] =
    df.filter(cond).select(col("ORDER NO")).distinct()
      .collect().map(_.getString(0)).toSeq

  /** `tripletex.py:128-139` */
  def refunds(df: DataFrame): Finding = {
    val r = distinctOrders(df, col("PAID AMOUNT") <= 0).sorted
    Finding("refunds", r.isEmpty,
      if (r.isEmpty) Nil
      else Seq(s"The following ${r.length} orders are refunds: ${r.mkString(", ")}"))
  }

  /** `tripletex.py:165-177` */
  def giftCards(df: DataFrame): Finding = {
    val g = distinctOrders(df, col("ORDER LINE - PROD NO") === "GIFTCARD").sorted
    Finding("gift_cards", g.isEmpty,
      if (g.isEmpty) Nil
      else Seq(s"The following ${g.length} orders include gift cards: ${g.mkString(", ")}."))
  }

  /** U2 gap finder shared by [[orderNo]] and [[invoiceNo]]: the numbers
    * strictly between min and max of `n` (a long column) that do not occur
    * — an anti-join against spark.range; only the missing ones are collected.
    * Ascending.
    */
  private def missingNumbers(n: DataFrame): Seq[Long] = {
    val nums = n.toDF("n").distinct().cache()
    val bounds = nums.agg(min(col("n")), max(col("n"))).head()
    val missing = if (bounds.isNullAt(0)) Nil
    else n.sparkSession.range(bounds.getLong(0) + 1, bounds.getLong(1)).toDF("n")
      .join(nums, Seq("n"), "left_anti")
      .orderBy("n").collect().map(_.getLong(0)).toSeq
    nums.unpersist()
    missing
  }

  /** `tripletex.py:65-82`: gaps in the order-number sequence of non-refund
    * rows — F11 parse + U2 gap finder.
    */
  def orderNo(df: DataFrame): Finding = {
    val missing = missingNumbers(df.filter(col("PAID AMOUNT") >= 0)
      .select(substring(col("ORDER NO"), 2, 18).cast("long"))).map("#" + _)
    Finding("order_no", missing.isEmpty,
      if (missing.isEmpty) Nil
      else Seq(s"The following ${missing.length} orders are missing: ${missing.mkString(", ")}"))
  }

  /** `tripletex.py:85-99`: gaps in invoice numbers. */
  def invoiceNo(df: DataFrame): Finding = {
    val missing = missingNumbers(df.select(col("INVOICE NO").cast("long")))
    Finding("invoice_no", missing.isEmpty,
      if (missing.isEmpty) Nil
      else Seq(s"The following ${missing.length} invoice numbers are missing: ${missing.mkString(", ")}"))
  }

  /** `tripletex.py:30-42` (with the last-column-only return bug fixed). */
  def noneValues(df: DataFrame): Finding = {
    val warnings = requiredFields.flatMap { f =>
      val missing = distinctOrders(df, col(f).isNull)
      if (missing.isEmpty) None
      else Some(s"Required column $f is missing for orders ${missing.mkString(", ")}")
    }
    Finding("none_values", warnings.isEmpty, warnings)
  }

  /** `tripletex.py:45-62`: both PROD NO and DESCRIPTION null. */
  def descriptionOrSku(df: DataFrame): Finding = {
    val errors = distinctOrders(df,
      col("ORDER LINE - PROD NO").isNull && col("ORDER LINE - DESCRIPTION").isNull)
    Finding("description_or_sku", errors.isEmpty,
      if (errors.isEmpty) Nil
      else Seq(s"The following ${errors.length} orders miss either " +
        s"'ORDER LINE - PROD NO' or 'ORDER LINE - DESCRIPTION': ${errors.mkString(", ")}"))
  }

  /** `tripletex.py:102-125`: per-order Σ(count×unit×(100−disc)/100) vs the
    * order's PAID AMOUNT (A2 `first`, made deterministic with min_by), flag
    * >1% deviation. A null DISCOUNT propagates null through the product and
    * `sum` skips it — exactly pandas' NaN-skipping sum, so null-discount
    * lines contribute nothing to lineitems_total. min_by keys on a stable
    * composite ending in PAID AMOUNT itself, so the selected VALUE is
    * deterministic even when every other column ties (multi-line refunds
    * carry per-line PAID AMOUNTs under one ORDER NO).
    */
  def price(df: DataFrame): Finding = {
    val lineTotal = col("ORDER LINE - COUNT") * col("ORDER LINE - UNIT PRICE") *
      (lit(100) - col("ORDER LINE - DISCOUNT")) / lit(100)
    val grouped = df
      .withColumn("price_after_discount", lineTotal)
      .groupBy(col("ORDER NO"))
      .agg(
        min_by(col("PAID AMOUNT"),
          struct(col("INVOICE NO"), col("ORDER LINE - PROD NO"),
            col("ORDER LINE - UNIT PRICE"), col("PAID AMOUNT"))).as("paid_amount"),
        // pandas sum(skipna) of an all-NaN group is 0.0, Spark's is NULL
        coalesce(sum(col("price_after_discount")), lit(0)).as("lineitems_total"))
      .withColumn("diff", abs(col("paid_amount") - col("lineitems_total")))
      .filter(col("diff") > abs(col("paid_amount")) * 0.01)
      .orderBy(col("ORDER NO"))
    val rows = grouped.select(col("ORDER NO"), col("diff")).collect()
    Finding("price", rows.isEmpty,
      rows.map(r => s"Order ${r.get(0)} has a deviation between the total " +
        s"amount paid and the sum of all lineitems of ${r.get(1)}").toSeq)
  }

  /** `tripletex.py:142-162`: payment types outside the allow-list, one
    * warning per (order, gateway) — pandas `~isin` keeps nulls (P5).
    */
  def unknownGateway(df: DataFrame, gateways: Option[Seq[String]]): Finding =
    gateways match {
      case None => Finding("unknown_gateway", passed = true, Nil)
      case Some(gw) =>
        val flagged = df
          .filter(!coalesce(col("PAYMENT TYPE").isin(gw.map(x => x: Any): _*), lit(false)))
          .select(col("ORDER NO"), col("PAYMENT TYPE")).distinct()
          .orderBy(col("ORDER NO"), col("PAYMENT TYPE"))
          .collect()
        Finding("unknown_gateway", flagged.isEmpty,
          flagged.map(r => s"Order ${r.get(0)} has an unknown payment " +
            s"gateway: '${r.get(1)}'").toSeq)
    }

  /** `tripletex.py:214-219` info counters: (ordinary, refund-only). */
  def orderCounts(df: DataFrame): (Long, Long) = {
    val r = df.agg(
      countDistinct(when(col("PAID AMOUNT") >= 0, col("ORDER NO"))).as("ordinary"),
      countDistinct(when(col("PAID AMOUNT") < 0, col("ORDER NO"))).as("refund")).head()
    (r.getLong(0), r.getLong(1))
  }
}
