package perfbench

import java.time.LocalDateTime

import graft.receipts.ExpenseAnalyzer

/** Seeded stand-in for Textract's `analyze_expense`: every image id
  * maps to one generated response, so the analyzer needs no network and
  * no captured fixture, and the benchmark knows what the pipeline must
  * extract from it. The number of summary fields, OTHER labels and line
  * items varies per receipt, and some receipts repeat a field so the
  * pipeline's "last match in document order" rule decides the value.
  */
object ExpenseGen {

  /** What the receipt pipeline must produce for one receipt. Money is
    * in cents so equality is exact.
    */
  final case class Expected(vendor: String, date: LocalDateTime,
                            totalCents: Long, subTotalCents: Long,
                            taxCents: Long, otherFields: Int,
                            lineItems: Int)

  private val Vendors = Seq("Corner Market", "Blue Fern Cafe", "Hardware Depot",
    "City Pharmacy", "Green Grocer", "Book Nook", "Fuel Stop", "Taco Stand")
  private val OtherLabels = Seq("Cashier", "Store #", "Register", "Phone",
    "Member ID", "Terminal", "Auth Code", "Points")
  private val Items = Seq("Milk", "Bread", "Coffee", "Nails", "Tape",
    "Aspirin", "Apples", "Paper", "Gasoline", "Taco")

  private def rng(seed: Long, imgId: String) =
    new java.util.Random(seed * 1000003L ^ imgId.hashCode.toLong)

  def expected(seed: Long, imgId: String): Expected =
    generate(seed, imgId)._2

  def response(seed: Long, imgId: String): String =
    generate(seed, imgId)._1

  private def money(cents: Long): String = f"$$${cents / 100}%d.${cents % 100}%02d"

  private def esc(s: String): String = s.replace("\\", "\\\\").replace("\"", "\\\"")

  private def field(tpe: String, label: Option[String], value: String,
                    conf: Double): String = {
    val geo = """"Geometry":{"BoundingBox":{"Height":0.02,"Left":0.1,"Top":0.2,"Width":0.3},""" +
      """"Polygon":[{"X":0.1,"Y":0.2},{"X":0.4,"Y":0.2},{"X":0.4,"Y":0.22},{"X":0.1,"Y":0.22}]}"""
    val lab = label.map(l =>
      s""","LabelDetection":{"Text":"${esc(l)}","Confidence":$conf,$geo}""").getOrElse("")
    s"""{"PageNumber":1,"Type":{"Text":"$tpe","Confidence":$conf}$lab,""" +
      s""""ValueDetection":{"Text":"${esc(value)}","Confidence":$conf,$geo}}"""
  }

  private def generate(seed: Long, imgId: String): (String, Expected) = {
    val r = rng(seed, imgId)
    val vendor = Vendors(r.nextInt(Vendors.length)) + s" ${r.nextInt(900) + 100}"
    val date = LocalDateTime.of(2020 + r.nextInt(5), 1 + r.nextInt(12),
      1 + r.nextInt(28), r.nextInt(24), r.nextInt(60))
    val dateText = r.nextInt(3) match {
      case 0 => f"${date.getMonthValue}/${date.getDayOfMonth}/${date.getYear} ${date.getHour}%02d:${date.getMinute}%02d"
      case 1 => f"${date.getYear}-${date.getMonthValue}%02d-${date.getDayOfMonth}%02d ${date.getHour}%02d:${date.getMinute}%02d"
      case _ =>
        val mon = date.getMonth.getDisplayName(java.time.format.TextStyle.SHORT,
          java.util.Locale.ROOT)
        f"$mon ${date.getDayOfMonth}, ${date.getYear} ${date.getHour}%02d:${date.getMinute}%02d"
    }
    val nItems = 1 + r.nextInt(8)
    val prices = Seq.fill(nItems)(100L + r.nextInt(4900))
    val qtys = Seq.fill(nItems)(1 + r.nextInt(3))
    val sub = prices.zip(qtys).map { case (p, q) => p * q }.sum
    val tax = sub * (5 + r.nextInt(6)) / 100
    val total = sub + tax
    val nOther = r.nextInt(7)
    val conf = 90.0 + r.nextInt(1000) / 100.0
    val fields = scala.collection.mutable.ArrayBuffer.empty[String]
    // a superseded vendor line, so the last-match rule is exercised
    if (r.nextInt(4) == 0) fields += field("VENDOR_NAME", None, "RECEIPT", conf)
    fields += field("VENDOR_NAME", None, vendor, conf)
    fields += field("INVOICE_RECEIPT_DATE", Some("Date"), dateText, conf)
    for (i <- 0 until nOther)
      fields += field("OTHER", Some(OtherLabels((i + r.nextInt(3)) % OtherLabels.length)),
        s"${r.nextInt(100000)}", conf)
    fields += field("SUBTOTAL", Some("Subtotal"), money(sub), conf)
    fields += field("TAX", Some("Tax"), money(tax), conf)
    // an intermediate balance line typed TOTAL precedes the final total
    if (r.nextBoolean()) fields += field("TOTAL", Some("Balance"), money(sub), conf)
    fields += field("TOTAL", Some("Total"), money(total), conf)
    val items = prices.zip(qtys).map { case (p, q) =>
      val name = Items(r.nextInt(Items.length))
      "{\"LineItemExpenseFields\":[" + Seq(
        field("ITEM", None, name, conf),
        field("QUANTITY", None, q.toString, conf),
        field("PRICE", None, money(p * q), conf),
        field("EXPENSE_ROW", None, s"$name $q ${money(p * q)}", conf)).mkString(",") + "]}"
    }
    val json =
      s"""{"DocumentMetadata":{"Pages":1},"ExpenseDocuments":[{"ExpenseIndex":1,""" +
        s""""SummaryFields":[${fields.mkString(",")}],""" +
        s""""LineItemGroups":[{"LineItemGroupIndex":1,"LineItems":[${items.mkString(",")}]}]}]}"""
    (json, Expected(vendor, date, total, sub, tax, nOther, nItems))
  }

  /** The analyzer seam the pipeline calls: one response per image id,
    * counting calls so the traced run can report analyzer calls per
    * distinct receipt.
    */
  final class Analyzer(seed: Long, counted: Boolean) extends ExpenseAnalyzer {
    def open(): (String, Array[Byte]) => String = { (imgId, _) =>
      if (counted) Analyzer.counted.incrementAndGet()
      response(seed, imgId)
    }
  }

  object Analyzer {
    /** Calls to counted analyzers in this JVM (local mode runs tasks
      * in-process).
      */
    val counted = new java.util.concurrent.atomic.AtomicLong()
  }
}
