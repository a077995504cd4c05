package graft.queries

import java.time.LocalDate
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import Tables._

/** The flagship E2 benchmark query: the full `tripletex_invoice` +
  * numbering pipeline (SURVEY §3 E2) driven from the synthetic tables via
  * a deterministic TPC-H→Shopify shape derivation, so the reference's
  * whole relational workload is measurable at every SF and DuckDB-oracle
  * checkable.
  *
  * Derivation rules are pure integer/CASE arithmetic (SQL-mirrorable):
  * every order gets a sale transaction (plus capture for ≡0 mod 11,
  * failure for ≡0 mod 97, a gift-card payment for ≡0 mod 20); 'F'-status
  * orders ≡0 mod 5 are refunded with one refund line (amount NULL for ≡0
  * mod 3 to exercise the t.amount fallback); shipping exists for ≡0 mod 4
  * with divisor-friendly prices so discount percentages terminate.
  */
object InvoicePipeline {

  private val dec = "decimal(38,9)"

  /** Derive the Shopify-shaped tables from the synthetic star schema. */
  def buildTables(spark: SparkSession, dir: String): InvoiceView.Tables = {
    import spark.implicits._
    val o = orders(spark, dir)
    val c = customer(spark, dir)
    val li = lineitem(spark, dir)

    val customersD = c.select($"c_custkey".as("id"), $"c_name".as("name"))

    val refunded = $"o_orderstatus" === "F" && $"o_orderkey" % 5 === 0
    val ordersD = o.select(
      $"o_orderkey".as("id"),
      $"o_custkey".as("customer_id"),
      concat(lit("#"), $"o_orderkey".cast("string")).as("name"),
      when(refunded, "refunded").otherwise("paid").as("financial_status"),
      $"o_totalprice".cast(dec).as("total_price"),
      $"o_orderdate".as("created_at"))

    val gateway = when($"o_orderkey" % 3 === 0, "vipps")
      .when($"o_orderkey" % 3 === 1, "stripe").otherwise("paypal")
    val sale = o.select(
      ($"o_orderkey" * 10 + 1).as("id"), $"o_orderkey".as("order_id"),
      when($"o_orderkey" % 97 === 0, "failure").otherwise("success").as("status"),
      $"o_totalprice".cast(dec).as("amount"), gateway.as("gateway"),
      lit("sale").as("kind"), $"o_orderdate".as("created_at"),
      $"o_orderdate".as("processed_at"))
    val capture = o.filter($"o_orderkey" % 11 === 0).select(
      ($"o_orderkey" * 10 + 4).as("id"), $"o_orderkey".as("order_id"),
      lit("success").as("status"), $"o_totalprice".cast(dec).as("amount"),
      gateway.as("gateway"), lit("capture").as("kind"),
      $"o_orderdate".as("created_at"), $"o_orderdate".as("processed_at"))
    val gift = o.filter($"o_orderkey" % 20 === 0).select(
      ($"o_orderkey" * 10 + 3).as("id"), $"o_orderkey".as("order_id"),
      lit("success").as("status"),
      (lit(25.0) + ($"o_orderkey" % 4) * 25.0).cast(dec).as("amount"),
      lit("gift_card").as("gateway"), lit("sale").as("kind"),
      $"o_orderdate".as("created_at"), $"o_orderdate".as("processed_at"))
    val refundTx = o.filter(refunded).select(
      ($"o_orderkey" * 10 + 2).as("id"), $"o_orderkey".as("order_id"),
      lit("success").as("status"), $"o_totalprice".cast(dec).as("amount"),
      gateway.as("gateway"), lit("refund").as("kind"),
      ($"o_orderdate" + expr("INTERVAL 7 DAY")).as("created_at"),
      ($"o_orderdate" + expr("INTERVAL 7 DAY")).as("processed_at"))
    val transactionsD = sale.unionByName(capture).unionByName(gift).unionByName(refundTx)

    val rn = row_number().over(Window.partitionBy($"l_orderkey")
      .orderBy($"l_linenumber", $"l_extendedprice", $"l_partkey", $"l_suppkey", $"l_quantity"))
    val lipD = li
      .withColumn("rn", rn)
      .select(
        ($"l_orderkey" * 100 + $"rn").as("id"),
        $"l_orderkey".as("order_id"),
        concat(lit("part-"), $"l_partkey".cast("string")).as("title"),
        concat(lit("SKU-"), $"l_partkey".cast("string")).as("sku"),
        when($"l_linenumber" % 2 === 0, concat(lit("v"), $"l_suppkey".cast("string")))
          .otherwise(lit(null).cast("string")).as("variant_title"),
        $"l_extendedprice".cast(dec).as("unit_price"),
        ($"l_extendedprice" * $"l_quantity").cast(dec).as("total_price"),
        lit(0.0).cast(dec).as("total_discount_amount"),
        $"l_quantity".cast("int").as("quantity"))

    val shipPrice = when($"o_orderkey" % 3 === 0, 40.0)
      .when($"o_orderkey" % 3 === 1, 50.0).otherwise(80.0)
    val shippingD = o.filter($"o_orderkey" % 4 === 0).select(
      $"o_orderkey".as("id"), $"o_orderkey".as("order_id"),
      shipPrice.cast(dec).as("price"),
      (shipPrice - ($"o_orderkey" % 2) * 5.0).cast(dec).as("discounted_price"),
      lit("Standard").as("title"))

    val refundsD = o.filter(refunded).select(
      $"o_orderkey".as("id"), $"o_orderkey".as("order_id"),
      ($"o_orderkey" * 10 + 2).as("transaction_id"),
      when($"o_orderkey" % 2 === 0, "damaged").otherwise(lit(null).cast("string")).as("note"),
      ($"o_orderdate" + expr("INTERVAL 7 DAY")).as("created_at"),
      ($"o_orderdate" + expr("INTERVAL 7 DAY")).as("processed_at"))

    val liprD = o.filter(refunded).select(
      $"o_orderkey".as("id"), $"o_orderkey".as("refund_id"),
      ($"o_orderkey" * 100 + 1).as("line_item_product_id"),
      (lit(1) + ($"o_orderkey" % 2)).cast("int").as("quantity"),
      when($"o_orderkey" % 3 === 0, lit(null).cast(dec))
        .otherwise((lit(100.0) + ($"o_orderkey" % 7) * 10.0).cast(dec)).as("refund_amount"))

    InvoiceView.Tables(customersD, ordersD, transactionsD, lipD,
      shippingD, refundsD, liprD)
  }

  /** q36: full view + numbering, money rendered as double, fully
    * deterministic row order.
    */
  /** Deterministic output order on a structural SUPERKEY of the result
    * instead of all 19 columns: within one (INVOICE NO, transaction_id)
    * every other output column is a function of (PROD NO, PROD NAME,
    * UNIT PRICE, COUNT) after the union-distinct, so these six keys
    * totally order the rows (verified distinct-count == row-count). Must
    * stay textually in sync with the oracle's ORDER BY (NULLS FIRST —
    * Spark's ascending default).
    */
  private val orderKeys = Seq("INVOICE NO", "transaction_id",
    "ORDER LINE - PROD NO", "ORDER LINE - PROD NAME",
    "ORDER LINE - UNIT PRICE", "ORDER LINE - COUNT")

  def invoicePipeline(spark: SparkSession, dir: String): DataFrame = {
    val numbered = InvoiceNumbers.numberInvoices(buildTables(spark, dir),
      LocalDate.parse("1996-01-01"), LocalDate.parse("1998-12-31"), 5000L)
    val money = Seq("PAID AMOUNT", "ORDER LINE - UNIT PRICE", "ORDER LINE - DISCOUNT")
    val out = money.foldLeft(numbered)((d, c) => d.withColumn(c, col(c).cast("double")))
      .withColumn("INVOICE NO", col("INVOICE NO").cast("long"))
    out.orderBy(orderKeys.map(col): _*)
  }

  /** DuckDB mirror: the same derivation CTEs + a faithful translation of
    * `setup.sql:192-394` and `db.py:434-470` (with the documented
    * deterministic orderings).
    */
  val invoicePipelineSql: String =
    """WITH customers_d AS (SELECT c_custkey AS id, c_name AS name FROM customer),
      |orders_d AS (
      |  SELECT o_orderkey AS id, o_custkey AS customer_id,
      |    '#' || CAST(o_orderkey AS VARCHAR) AS name,
      |    CASE WHEN o_orderstatus='F' AND o_orderkey%5=0 THEN 'refunded' ELSE 'paid' END AS financial_status,
      |    CAST(o_totalprice AS DECIMAL(38,9)) AS total_price,
      |    o_orderdate AS created_at
      |  FROM orders),
      |tx AS (
      |  SELECT o_orderkey*10+1 AS id, o_orderkey AS order_id,
      |    CASE WHEN o_orderkey%97=0 THEN 'failure' ELSE 'success' END AS status,
      |    CAST(o_totalprice AS DECIMAL(38,9)) AS amount,
      |    CASE o_orderkey%3 WHEN 0 THEN 'vipps' WHEN 1 THEN 'stripe' ELSE 'paypal' END AS gateway,
      |    'sale' AS kind, o_orderdate AS created_at, o_orderdate AS processed_at
      |  FROM orders
      |  UNION ALL
      |  SELECT o_orderkey*10+4, o_orderkey, 'success', CAST(o_totalprice AS DECIMAL(38,9)),
      |    CASE o_orderkey%3 WHEN 0 THEN 'vipps' WHEN 1 THEN 'stripe' ELSE 'paypal' END,
      |    'capture', o_orderdate, o_orderdate
      |  FROM orders WHERE o_orderkey%11=0
      |  UNION ALL
      |  SELECT o_orderkey*10+3, o_orderkey, 'success',
      |    CAST(25.0 + (o_orderkey%4)*25.0 AS DECIMAL(38,9)),
      |    'gift_card', 'sale', o_orderdate, o_orderdate
      |  FROM orders WHERE o_orderkey%20=0
      |  UNION ALL
      |  SELECT o_orderkey*10+2, o_orderkey, 'success', CAST(o_totalprice AS DECIMAL(38,9)),
      |    CASE o_orderkey%3 WHEN 0 THEN 'vipps' WHEN 1 THEN 'stripe' ELSE 'paypal' END,
      |    'refund', o_orderdate + INTERVAL 7 DAY, o_orderdate + INTERVAL 7 DAY
      |  FROM orders WHERE o_orderstatus='F' AND o_orderkey%5=0),
      |lip AS (
      |  SELECT l_orderkey*100 + ROW_NUMBER() OVER (PARTITION BY l_orderkey
      |      ORDER BY l_linenumber, l_extendedprice, l_partkey, l_suppkey, l_quantity) AS id,
      |    l_orderkey AS order_id,
      |    'part-' || CAST(l_partkey AS VARCHAR) AS title,
      |    'SKU-' || CAST(l_partkey AS VARCHAR) AS sku,
      |    CASE WHEN l_linenumber%2=0 THEN 'v' || CAST(l_suppkey AS VARCHAR) END AS variant_title,
      |    CAST(l_extendedprice AS DECIMAL(38,9)) AS unit_price,
      |    CAST(l_extendedprice * l_quantity AS DECIMAL(38,9)) AS total_price,
      |    CAST(0.0 AS DECIMAL(38,9)) AS total_discount_amount,
      |    CAST(l_quantity AS INTEGER) AS quantity
      |  FROM lineitem),
      |shipping_d AS (
      |  SELECT o_orderkey AS id, o_orderkey AS order_id,
      |    CAST(CASE o_orderkey%3 WHEN 0 THEN 40.0 WHEN 1 THEN 50.0 ELSE 80.0 END AS DECIMAL(38,9)) AS price,
      |    CAST((CASE o_orderkey%3 WHEN 0 THEN 40.0 WHEN 1 THEN 50.0 ELSE 80.0 END) - (o_orderkey%2)*5.0 AS DECIMAL(38,9)) AS discounted_price,
      |    'Standard' AS title
      |  FROM orders WHERE o_orderkey%4=0),
      |refunds_d AS (
      |  SELECT o_orderkey AS id, o_orderkey AS order_id, o_orderkey*10+2 AS transaction_id,
      |    CASE WHEN o_orderkey%2=0 THEN 'damaged' END AS note,
      |    o_orderdate + INTERVAL 7 DAY AS created_at, o_orderdate + INTERVAL 7 DAY AS processed_at
      |  FROM orders WHERE o_orderstatus='F' AND o_orderkey%5=0),
      |lipr AS (
      |  SELECT o_orderkey AS id, o_orderkey AS refund_id, o_orderkey*100+1 AS line_item_product_id,
      |    CAST(1 + o_orderkey%2 AS INTEGER) AS quantity,
      |    CASE WHEN o_orderkey%3=0 THEN NULL
      |         ELSE CAST(100.0 + (o_orderkey%7)*10.0 AS DECIMAL(38,9)) END AS refund_amount
      |  FROM orders WHERE o_orderstatus='F' AND o_orderkey%5=0),
      |stp AS (
      |  SELECT t.*, ROW_NUMBER() OVER (PARTITION BY t.order_id ORDER BY
      |      CASE t.kind WHEN 'sale' THEN 1 WHEN 'capture' THEN 2 WHEN 'authorization' THEN 3 ELSE 10 END,
      |      t.id) AS transaction_rank
      |  FROM tx t
      |  WHERE t.status='success' AND t.kind IN ('sale','capture','authorization')
      |    AND t.gateway != 'gift_card'),
      |gift_card_lines AS (
      |  SELECT t.id AS transaction_id, o.id AS order_id, 'payment' AS payment_tag,
      |    TRY_CAST(TRIM(RIGHT(RPAD(SUBSTRING(CAST(c.id AS VARCHAR),1,12),12,' '),9)) AS INTEGER) AS "CUSTOMER NO",
      |    c.name AS "CUSTOMER NAME", o.name AS "ORDER NO",
      |    stp.amount AS "PAID AMOUNT", 1 AS "ORDER LINE - COUNT",
      |    'Gift card' AS "ORDER LINE - PROD NAME",
      |    CAST(-t.amount AS DECIMAL(38,9)) AS "ORDER LINE - UNIT PRICE",
      |    CAST(0 AS DECIMAL(38,9)) AS "ORDER LINE - DISCOUNT",
      |    3 AS "ORDER LINE - VAT CODE", CAST(NULL AS VARCHAR) AS "ORDER LINE - DESCRIPTION",
      |    'GIFTCARD' AS "ORDER LINE - PROD NO", stp.gateway AS "PAYMENT TYPE",
      |    CAST(o.created_at AS DATE) AS "INVOICE DATE", CAST(t.processed_at AS DATE) AS "DELIVERY DATE",
      |    CAST(o.created_at AS DATE) AS "ORDER DATE", CAST(t.processed_at AS DATE) AS "DUE DATE",
      |    1 AS rank, 4 AS priority
      |  FROM tx t
      |  LEFT JOIN orders_d o ON o.id = t.order_id
      |  LEFT JOIN customers_d c ON c.id = o.customer_id
      |  LEFT JOIN stp ON stp.order_id = t.order_id
      |  WHERE t.gateway='gift_card' AND stp.transaction_rank=1),
      |product_lines AS (
      |  SELECT t.id AS transaction_id, o.id AS order_id, 'payment' AS payment_tag,
      |    TRY_CAST(TRIM(RIGHT(RPAD(SUBSTRING(CAST(c.id AS VARCHAR),1,12),12,' '),9)) AS INTEGER) AS "CUSTOMER NO",
      |    c.name AS "CUSTOMER NAME", o.name AS "ORDER NO",
      |    t.amount AS "PAID AMOUNT", lip.quantity AS "ORDER LINE - COUNT",
      |    CASE
      |      WHEN NULLIF(lip.title,'') IS NOT NULL AND NULLIF(lip.variant_title,'') IS NOT NULL
      |        THEN COALESCE(lip.title,'') || ' - ' || COALESCE(lip.variant_title,'')
      |      WHEN lip.title IS NOT NULL THEN lip.title
      |    END AS "ORDER LINE - PROD NAME",
      |    lip.unit_price AS "ORDER LINE - UNIT PRICE",
      |    CAST(100 * (1 - ((lip.total_price - lip.total_discount_amount) / NULLIF(lip.total_price,0))) AS DECIMAL(38,9)) AS "ORDER LINE - DISCOUNT",
      |    3 AS "ORDER LINE - VAT CODE", CAST(NULL AS VARCHAR) AS "ORDER LINE - DESCRIPTION",
      |    lip.sku AS "ORDER LINE - PROD NO", t.gateway AS "PAYMENT TYPE",
      |    CAST(o.created_at AS DATE) AS "INVOICE DATE", CAST(t.processed_at AS DATE) AS "DELIVERY DATE",
      |    CAST(o.created_at AS DATE) AS "ORDER DATE", CAST(t.processed_at AS DATE) AS "DUE DATE",
      |    1 AS rank, 1 AS priority
      |  FROM stp t
      |  LEFT JOIN orders_d o ON o.id = t.order_id
      |  LEFT JOIN customers_d c ON c.id = o.customer_id
      |  LEFT JOIN lip ON lip.order_id = o.id
      |  WHERE t.transaction_rank = 1),
      |refund_lines AS (
      |  SELECT t.id AS transaction_id, o.id AS order_id, 'refund' AS payment_tag,
      |    TRY_CAST(TRIM(RIGHT(RPAD(SUBSTRING(CAST(c.id AS VARCHAR),1,12),12,' '),9)) AS INTEGER) AS "CUSTOMER NO",
      |    c.name AS "CUSTOMER NAME",
      |    COALESCE(o.name,'') || '-1' AS "ORDER NO",
      |    CAST(-COALESCE(lipr.refund_amount, t.amount) AS DECIMAL(38,9)) AS "PAID AMOUNT",
      |    -COALESCE(lipr.quantity, 1) AS "ORDER LINE - COUNT",
      |    CASE WHEN lip.title IS NOT NULL
      |      THEN COALESCE(lip.title,'') || ' - ' || COALESCE(lip.variant_title,'')
      |    END AS "ORDER LINE - PROD NAME",
      |    CAST(COALESCE(ROUND(lipr.refund_amount/lipr.quantity, 2), t.amount) AS DECIMAL(38,9)) AS "ORDER LINE - UNIT PRICE",
      |    CAST(0 AS DECIMAL(38,9)) AS "ORDER LINE - DISCOUNT",
      |    3 AS "ORDER LINE - VAT CODE",
      |    COALESCE(NULLIF(r.note,''), 'Refund with unspecified reason') AS "ORDER LINE - DESCRIPTION",
      |    lip.sku AS "ORDER LINE - PROD NO", t.gateway AS "PAYMENT TYPE",
      |    CAST(r.created_at AS DATE) AS "INVOICE DATE", CAST(r.processed_at AS DATE) AS "DELIVERY DATE",
      |    CAST(o.created_at AS DATE) AS "ORDER DATE", CAST(r.processed_at AS DATE) AS "DUE DATE",
      |    1 AS rank, 2 AS priority
      |  FROM tx t
      |  INNER JOIN refunds_d r ON r.transaction_id = t.id
      |  LEFT JOIN lipr ON lipr.refund_id = r.id
      |  LEFT JOIN orders_d o ON o.id = t.order_id
      |  LEFT JOIN customers_d c ON c.id = o.customer_id
      |  LEFT JOIN lip ON lip.order_id = r.order_id AND lip.id = lipr.line_item_product_id
      |  WHERE t.status='success' AND t.kind='refund'),
      |shipping_lines AS (
      |  SELECT transaction_id, order_id, payment_tag, "CUSTOMER NO", "CUSTOMER NAME",
      |    "ORDER NO", "PAID AMOUNT", "ORDER LINE - COUNT", "ORDER LINE - PROD NAME",
      |    "ORDER LINE - UNIT PRICE", "ORDER LINE - DISCOUNT", "ORDER LINE - VAT CODE",
      |    "ORDER LINE - DESCRIPTION", "ORDER LINE - PROD NO", "PAYMENT TYPE",
      |    "INVOICE DATE", "DELIVERY DATE", "ORDER DATE", "DUE DATE", 1 AS rank, priority
      |  FROM (
      |    SELECT pl.transaction_id, pl.order_id, 'payment' AS payment_tag,
      |      pl."CUSTOMER NO", pl."CUSTOMER NAME", pl."ORDER NO", pl."PAID AMOUNT",
      |      1 AS "ORDER LINE - COUNT", CAST(NULL AS VARCHAR) AS "ORDER LINE - PROD NAME",
      |      s.price AS "ORDER LINE - UNIT PRICE",
      |      CAST(COALESCE(100 * (1 - (s.discounted_price / NULLIF(s.price,0))), 0) AS DECIMAL(38,9)) AS "ORDER LINE - DISCOUNT",
      |      3 AS "ORDER LINE - VAT CODE", s.title AS "ORDER LINE - DESCRIPTION",
      |      'SHIPPING' AS "ORDER LINE - PROD NO", pl."PAYMENT TYPE",
      |      pl."INVOICE DATE", pl."DELIVERY DATE", pl."ORDER DATE", pl."DUE DATE",
      |      ROW_NUMBER() OVER (PARTITION BY pl.order_id ORDER BY pl."INVOICE DATE", s.id) AS ship_rank,
      |      3 AS priority
      |    FROM product_lines pl
      |    INNER JOIN shipping_d s ON s.order_id = pl.order_id) t
      |  WHERE ship_rank = 1),
      |unioned AS (
      |  SELECT * FROM product_lines
      |  UNION
      |  SELECT * FROM refund_lines
      |  UNION
      |  SELECT * FROM shipping_lines
      |  UNION
      |  SELECT * FROM gift_card_lines),
      |view_out AS (
      |  SELECT transaction_id, order_id, payment_tag, "CUSTOMER NO", "CUSTOMER NAME",
      |    "ORDER NO",
      |    ROUND("PAID AMOUNT", 2) AS "PAID AMOUNT",
      |    "ORDER LINE - COUNT", "ORDER LINE - PROD NAME",
      |    ROUND("ORDER LINE - UNIT PRICE", 2) AS "ORDER LINE - UNIT PRICE",
      |    ROUND("ORDER LINE - DISCOUNT", 2) AS "ORDER LINE - DISCOUNT",
      |    "ORDER LINE - VAT CODE", "ORDER LINE - DESCRIPTION", "ORDER LINE - PROD NO",
      |    "PAYMENT TYPE", "INVOICE DATE", "DELIVERY DATE", "ORDER DATE", "DUE DATE"
      |  FROM unioned WHERE rank = 1),
      |ind AS (
      |  SELECT "ORDER NO", payment_tag,
      |    ROW_NUMBER() OVER (ORDER BY "ORDER NO", payment_tag) + 5000 - 1 AS "INVOICE NO"
      |  FROM (SELECT DISTINCT "ORDER NO", payment_tag FROM view_out
      |        WHERE "INVOICE DATE" BETWEEN DATE '1996-01-01' AND DATE '1998-12-31') t)
      |SELECT ti.transaction_id, ti.order_id, ti."CUSTOMER NO", ti."CUSTOMER NAME",
      |  ti."ORDER NO",
      |  CAST(ti."PAID AMOUNT" AS DOUBLE) AS "PAID AMOUNT",
      |  ti."PAYMENT TYPE", ti."ORDER LINE - COUNT", ti."ORDER LINE - PROD NAME",
      |  CAST(ti."ORDER LINE - UNIT PRICE" AS DOUBLE) AS "ORDER LINE - UNIT PRICE",
      |  CAST(ti."ORDER LINE - DISCOUNT" AS DOUBLE) AS "ORDER LINE - DISCOUNT",
      |  ti."ORDER LINE - VAT CODE", ti."ORDER LINE - DESCRIPTION", ti."ORDER LINE - PROD NO",
      |  ti."INVOICE DATE", ti."DELIVERY DATE", ti."ORDER DATE", ti."DUE DATE",
      |  CAST(ind."INVOICE NO" AS BIGINT) AS "INVOICE NO"
      |FROM view_out ti
      |RIGHT JOIN ind ON ti."ORDER NO" = ind."ORDER NO" AND ti.payment_tag = ind.payment_tag
      |ORDER BY "INVOICE NO" NULLS FIRST, ti.transaction_id NULLS FIRST,
      |  ti."ORDER LINE - PROD NO" NULLS FIRST, ti."ORDER LINE - PROD NAME" NULLS FIRST,
      |  ti."ORDER LINE - UNIT PRICE" NULLS FIRST, ti."ORDER LINE - COUNT" NULLS FIRST""".stripMargin

  /** q46: view tripletex_customer_map (`setup.sql:396-404`) over the
    * derived customers table (phone/email synthesized deterministically
    * from the key/name — the synthetic customer table has no contact
    * columns — so all five output columns are exercised).
    */
  def customerMap(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val c = customer(spark, dir).select(
      $"c_custkey".as("id"), $"c_name".as("name"),
      concat(lit("+47-"),
        lpad(($"c_custkey" * 7919 % 100000000).cast("string"), 8, "0")).as("phone"),
      concat(regexp_replace(lower($"c_name"), "[^a-z0-9]", "."),
        lit("@example.com")).as("email"))
    InvoiceView.tripletexCustomerMap(c).orderBy($"shopify_id")
  }

  val customerMapSql: String =
    """SELECT c_custkey AS shopify_id,
      |  TRY_CAST(TRIM(RIGHT(RPAD(SUBSTRING(CAST(c_custkey AS VARCHAR),1,12),12,' '),9)) AS INTEGER) AS tripletex_id,
      |  c_name AS name,
      |  '+47-' || LPAD(CAST(c_custkey * 7919 % 100000000 AS VARCHAR), 8, '0') AS phone,
      |  regexp_replace(lower(c_name), '[^a-z0-9]', '.', 'g') || '@example.com' AS email
      |FROM customer
      |ORDER BY shopify_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q36_invoice_pipeline" -> invoicePipeline,
    "q46_customer_map"     -> customerMap,
  )

  val oracles: Map[String, String] = Map(
    "q36_invoice_pipeline" -> invoicePipelineSql,
    "q46_customer_map"     -> customerMapSql,
  )
}
