package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** q392's fixture data never fires the wash branch (per-(cust,part)
  * trade histories are mostly one buy + one sell, so no replacement
  * purchase lands in the ±30-day window) — this spec pins the rule's
  * POSITIVE arm and its two exclusions on a crafted ledger:
  *
  *  part 1: buy 10 @ $10, sell 10 @ $8 twenty days later (a loss),
  *          re-buy 10 @ $9 ten days after the sale      → WASHED
  *  part 2: buy 10 @ $10, sell 10 @ $8, re-buy 90 days later
  *          → loss but NOT washed (outside the window)
  *  part 3: buy 10 @ $10, sell 10 @ $12 with a buy in-window
  *          → matched, NOT a loss, so wash cannot apply
  *  part 4: buy 10 @ $10 five days before selling them at a loss,
  *          NO other buy → the matched lot itself is in-window but
  *          excluded as "the very shares sold" → NOT washed
  */
class WashSaleSpec extends SparkSuite {

  test("wash-sale flags fire exactly per the rule") {
    import spark.implicits._
    val tmp = tempDir("graft_wash")
    // (orderkey, partkey, suppkey, linenumber, qty, extprice, discount,
    //  tax, returnflag, linestatus, shipdate)
    def li(ok: Long, part: Long, ln: Int, qty: Double, price: Double,
        fl: String, date: String) =
      (ok, part, 1L, ln, qty, price, 0.0, 0.0, fl, "O",
        java.sql.Date.valueOf(date))
    val rows = Seq(
      // part 1: washed loss
      li(1, 1, 1, 10, 100.0, "N", "1995-01-01"),
      li(2, 1, 1, 10, 80.0, "R", "1995-01-21"),
      li(3, 1, 1, 10, 90.0, "N", "1995-01-31"),
      // part 2: loss, replacement outside window
      li(4, 2, 1, 10, 100.0, "N", "1995-01-01"),
      li(5, 2, 1, 10, 80.0, "R", "1995-01-21"),
      li(6, 2, 1, 10, 90.0, "N", "1995-06-01"),
      // part 3: gain with in-window buy
      li(7, 3, 1, 10, 100.0, "N", "1995-01-01"),
      li(8, 3, 1, 10, 120.0, "R", "1995-01-21"),
      li(9, 3, 1, 10, 90.0, "N", "1995-01-25"),
      // part 4: loss, only the matched lot is in-window
      li(10, 4, 1, 10, 100.0, "N", "1995-01-16"),
      li(11, 4, 1, 10, 80.0, "R", "1995-01-21"))
    rows.toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate")
      .write.mode("overwrite").parquet(s"$tmp/lineitem.parquet")
    (1L to 11L).map(ok => (ok, 7L, "O", 0.0,
        java.sql.Date.valueOf("1995-01-01"), "1-URGENT"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$tmp/orders.parquet")
    val out = graft.SparkEntry.queries("q392_wash_sale")(
      spark, tmp.toString).collect()
    assert(out.length === 1)
    val r = out.head
    val byName = r.schema.fieldNames.zipWithIndex.toMap
    def g(n: String): Long = r.getLong(byName(n))
    assert(g("n_sales") === 4)
    assert(g("n_matched_sales") === 4)
    assert(g("n_loss_sales") === 3, "parts 1, 2, 4 realize losses")
    assert(g("n_washed_sales") === 1, "only part 1 is washed")
    assert(g("matched_units") === 40)
    assert(g("loss_units") === 30)
    assert(g("washed_loss_units") === 10)
  }

  test("cost-basis mark-to-market identity holds exactly on live data") {
    // q393's integer-arithmetic promise: per account,
    //   total_pnl == proceeds - cost + mark * (open_long - open_short)
    // EXACTLY (the e4 price quanta make every term a BIGINT — a float
    // pipeline could only assert this within a tolerance). Run on the
    // real sf0.001 ledger, all accounts.
    val rows = graft.SparkEntry.queries("q393_fifo_cost_basis")(
      spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val byName = r.schema.fieldNames.zipWithIndex.toMap
      def g(n: String): Long = r.getLong(byName(n))
      assert(g("total_pnl_e4") ===
        g("proceeds_e4") - g("cost_e4") + g("net_mark_e4"),
        s"identity violated for account ${g("o_custkey")}")
    }
  }
}
