package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.receipts.{ReceiptPipeline, TextractSchema}

/** The generated `analyze_expense` responses parse under the engine's
  * declared Textract schema, and the receipt pipeline extracts from them
  * exactly what the generator says it encoded.
  */
class ExpenseGenSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = graft.Sessions.local("2")

  override def afterAll(): Unit = spark.stop()

  private val ids = (0 until 60).map(i => f"${i * 0x9e3779b97f4a7c15L}%016x")

  test("responses round-trip through TextractSchema.response and summarize") {
    val s = spark
    import s.implicits._
    val seed = 17L
    val responses = ids.map(id => (id, ExpenseGen.response(seed, id))).toDF("img_id", "response")
      .select(col("img_id"), from_json(col("response"), TextractSchema.response).as("r"))
      .select(col("img_id"), col("r.*"))
    val flat = ReceiptPipeline.flattenSummary(responses)
    val fieldRows = flat.groupBy("img_id").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = ReceiptPipeline.summarize(flat)
      .select(col("img_id"), col("vendor_name"),
        date_format(col("receipt_date"), "yyyy-MM-dd HH:mm"),
        (col("total") * 100).cast("long"), (col("sub_total") * 100).cast("long"),
        (col("tax_amount") * 100).cast("long"), size(col("other_data")))
      .collect()
    assert(got.length == ids.length)
    got.foreach { r =>
      val e = ExpenseGen.expected(seed, r.getString(0))
      assert(r.getString(1) == e.vendor)
      assert(r.getString(2) == e.date.format(
        java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm")))
      assert(r.getLong(3) == e.totalCents)
      assert(r.getLong(4) == e.subTotalCents)
      assert(r.getLong(5) == e.taxCents)
      assert(r.getInt(6) <= e.otherFields)
      // vendor, date, subtotal, tax and total, plus the OTHER fields and
      // the optional superseded vendor and balance lines
      assert(fieldRows(r.getString(0)) >= 5 + e.otherFields)
    }
    val items = ReceiptPipeline.lineItems(responses).groupBy("img_id").count().collect()
    items.foreach(r => assert(r.getLong(1) == ExpenseGen.expected(seed, r.getString(0)).lineItems))
  }

  test("the same id and seed give the same response; another seed another") {
    assert(ExpenseGen.response(3L, ids(0)) == ExpenseGen.response(3L, ids(0)))
    assert(ExpenseGen.response(3L, ids(0)) != ExpenseGen.response(4L, ids(0)))
  }

  test("the generator varies field, label and line-item counts") {
    val es = ids.map(ExpenseGen.expected(5L, _))
    assert(es.map(_.otherFields).distinct.size > 3)
    assert(es.map(_.lineItems).distinct.size > 3)
  }
}
