package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import scala.collection.mutable
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** One `part` row: the dimension every ETL mapping is derived from
  * (graft.Tables.skuMap / salesMap / stock / wholesaleMap).
  */
final case class Part(key: Long, name: String, brand: String, ptype: String, size: Int, price: Double)

/** What the generator knows about the line items the pipeline keeps, per
  * normalized sku: the sum of parseable quantities (absent when none
  * parsed) and the number of kept rows (null quantities included).
  */
final class Tally {
  val sum = mutable.HashMap.empty[String, Double]
  val rows = mutable.HashMap.empty[String, Long]
  def add(sku: String, qty: Option[Double]): Unit = {
    rows(sku) = rows.getOrElse(sku, 0L) + 1
    qty.foreach(q => sum(sku) = sum.getOrElse(sku, 0.0) + q)
  }
  def lineItems: Long = rows.values.sum
}

/** Seeded input generators. They run at set-up, outside every timing, and
  * write only into the run's work directory; the program under test sees
  * nothing but the files written here.
  */
object Gen {
  /** The sf0.1 part domain: 20,000 SKUs, 64 wholesale names. */
  val Parts = 20000
  private val colors = Seq("red", "blue", "green", "black", "white", "small", "large", "hot")
  private val nouns = Seq("ring", "bolt", "widget", "lamp", "chair", "vase", "rug", "clock")
  private val types = Seq("ECONOMY", "SMALL", "LARGE", "STANDARD", "PROMO")
  /** Pipeline.run's default split is brand1 vs brand2+brand3; brand4 and
    * brand5 fall in neither report, as unlisted brands do in the reference.
    */
  private val brands = (1 to 5).map(i => s"brand$i")

  def parts(seed: Long): IndexedSeq[Part] = {
    val r = new java.util.SplittableRandom(seed ^ 0x5eedL)
    (0 until Parts).map { k =>
      Part(k.toLong, s"${colors(r.nextInt(8))} ${nouns(r.nextInt(8))}", brands(r.nextInt(5)),
        types(r.nextInt(5)), 1 + r.nextInt(50), 900.0 + (k % 1000) / 10.0 + r.nextInt(100))
    }
  }

  def writeParts(spark: SparkSession, ps: Seq[Part], dir: Path): Unit = {
    val schema = StructType.fromDDL(
      "p_partkey BIGINT, p_name STRING, p_brand STRING, p_type STRING, p_size INT, p_retailprice DOUBLE")
    val rows = ps.map(p => Row(p.key, p.name, p.brand, p.ptype, p.size, p.price))
    spark.createDataFrame(java.util.List.of(rows: _*), schema).coalesce(1)
      .write.parquet(dir.resolve("part.parquet").toString)
  }

  /** Zipf(1.1) over the part domain: a few SKUs dominate every feed. */
  final class Skus(r: java.util.SplittableRandom) {
    private val cdf = {
      val w = (1 to Parts).map(i => 1.0 / math.pow(i, 1.1))
      val total = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / total).toArray
    }
    private val perm = {
      val a = (0 until Parts).toArray
      for (i <- a.indices.reverse) { val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t }
      a
    }
    def next(): String = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      perm(math.min(Parts - 1, if (i >= 0) i else -i - 1)).toString
    }
  }

  /** Sizes of the `etl_feeds` corpus. */
  final case class FeedSizes(pages: Int, ordersPerPage: Int, csvRows: Int, excelRows: Int)

  /** Inputs for the 13 extractors of graft's full ETL: 7 API payload
    * shapes as directories of page files, 5 CSV/TSV feeds with preambles
    * and header echoes, and one xlsx sheet. Quantities are sometimes unparseable,
    * skus sometimes padded or null, some orders cancelled or out of the
    * date window: everything the extract and clean layers must handle.
    */
  def feeds(seed: Long, sz: FeedSizes, dir: Path): Tally = {
    val r = new java.util.SplittableRandom(seed)
    val skus = new Skus(r)
    val t = new Tally
    def write(rel: String, s: String): Unit = {
      val p = dir.resolve(rel); Files.createDirectories(p.getParent); Files.write(p, s.getBytes(UTF_8))
    }
    // one sale line: (raw sku or null, raw quantity text, kept by the pipeline)
    def line(kept: Boolean, plain: Boolean = false): (Option[String], String) = {
      val sku = skus.next()
      val roll = r.nextInt(100)
      val raw = if (plain) Some(sku) else if (roll < 2) None else if (roll < 6) Some(s" $sku ") else Some(sku)
      val qty = if (r.nextInt(100) < 3) "n/a" else (1 + r.nextInt(9)).toString
      if (kept) raw.foreach(s => t.add(s.trim, qty.toDoubleOption))
      (raw, qty)
    }
    def js(o: Option[String]) = o.map(s => "\"" + s + "\"").getOrElse("null")
    def qjs(q: String) = if (q == "n/a") "\"n/a\"" else q
    def orders(f: Int => String): String = (0 until sz.ordersPerPage).map(f).mkString(",")
    // 1-2 lines per order, as in every order of fixtures/payloads
    def items(kept: Boolean, plain: Boolean = false)(f: ((Option[String], String)) => String): String =
      (0 until 1 + r.nextInt(2)).map(_ => f(line(kept, plain))).mkString(",")
    var order = 0
    def id(): Int = { order += 1; order }

    // each page carries the fields of its fixtures/payloads file, read or not
    for (p <- 0 until sz.pages) {
      val pg = f"page-$p%03d"
      write(s"walmart/$pg.json", "{\"list\":{\"elements\":{\"order\":[" + orders { _ =>
        s"""{"purchaseOrderId":"PO-${id()}","orderLines":{"orderLine":[""" + items(kept = true) { case (s, q) =>
          s"""{"item":{"sku":${js(s)},"productName":"Widget"},""" +
            s""""orderLineQuantity":{"unitOfMeasurement":"EACH","amount":"$q"}}""" } + "]}}" } + "]}}}")
      write(s"houzz/$pg.xml", "<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n<Response><Orders>" + orders { _ =>
        // the XML source trims and infers numbers: plain skus only
        s"<Order><OrderId>H-${id()}</OrderId>" + items(kept = true, plain = true) { case (s, q) =>
          s"<OrderItem><SKU>${s.get}</SKU><Quantity>$q</Quantity></OrderItem>" } + "</Order>" } +
        "</Orders></Response>")
      write(s"faire/$pg.json", s"""{"page":${p + 1},"limit":${sz.ordersPerPage},"orders":[""" + orders { _ =>
        s"""{"id":"fo-${id()}","state":"PROCESSING","items":[""" + items(kept = true) { case (s, q) =>
          s"""{"sku":${js(s)},"quantity":${qjs(q)},"price_cents":${100 * (1 + r.nextInt(50))}}""" } + "]}" } + "]}")
      write(s"woocommerce/$pg.json", "[" + orders { _ =>
        val inWindow = r.nextInt(10) < 8
        val day = if (inWindow) 25 + r.nextInt(7) else 10 + r.nextInt(10)
        s"""{"id":${id()},"status":"completed","date_created":"2024-05-${day}T${10 + r.nextInt(10)}:00:00",""" +
          "\"line_items\":[" + items(inWindow) { case (s, q) =>
            s"""{"id":${id()},"sku":${js(s)},"quantity":${qjs(q)}}""" } + "]}" } + "]")
      write(s"dsco/$pg.json", "{\"orders\":[" + orders { _ =>
        val inWindow = r.nextInt(10) < 8
        val day = if (inWindow) 25 + r.nextInt(7) else 10 + r.nextInt(10)
        s"""{"poNumber":"D-${id()}","dscoCreateDate":"2024-05-${day}T08:00:00","lineItems":[""" +
          items(inWindow) { case (s, q) => s"""{"sku":${js(s)},"quantity":${qjs(q)}}""" } + "]}" } + "]}")
      write(s"mirakl/$pg.json", "{\"orders\":[" + orders { _ =>
        val live = r.nextInt(10) < 9
        s"""{"order_id":"M-${id()}","order_state":"${if (live) "SHIPPING" else "CANCELED"}","order_lines":[""" +
          items(live) { case (s, q) => s"""{"offer_sku":${js(s)},"quantity":${qjs(q)}}""" } + "]}" } + "]}")
      write(s"wayfair/$pg.json", "{\"data\":{\"getDropshipPurchaseOrders\":[" + orders { _ =>
        s"""{"poNumber":"WF-PO-${id()}","products":[""" + items(kept = true) { case (s, q) =>
          s"""{"partNumber":${js(s)},"quantity":${qjs(q)}}""" } + "]}" } + "]}}")
    }

    def csv(rel: String, header: String, sep: String, preamble: Seq[String] = Nil,
            echoEvery: Int = 0, extra: String = ""): Unit = {
      val sb = new StringBuilder
      preamble.foreach(l => sb.append(l).append('\n'))
      sb.append(header).append('\n')
      for (i <- 0 until sz.csvRows) {
        if (echoEvery > 0 && i > 0 && i % echoEvery == 0) sb.append(header).append('\n')
        val (s, q) = line(kept = true)
        sb.append(s.getOrElse("")).append(sep).append(q).append(extra).append('\n')
      }
      write(rel, sb.toString)
    }
    csv("macys.csv", "Vendor SKU,Quantity,Merchant", ",",
      preamble = Seq("Macy's vendor report", "generated 2024-06-01", "store: all", ""), extra = ",macys")
    csv("amazon.txt", "sku\tquantity", "\t", echoEvery = 997)
    csv("tom.csv", "Item SKU,Qty", ",")
    csv("hsn.csv", "sku,qty", ",")
    csv("rue.csv", "Vendor SKU,Quantity", ",")

    val sheet = new StringBuilder("<worksheet><sheetData>")
    def cell(ref: String, v: String, str: Boolean) =
      if (str) s"""<c r="$ref" t="inlineStr"><is><t>$v</t></is></c>""" else s"""<c r="$ref"><v>$v</v></c>"""
    sheet.append("<row r=\"1\">" + cell("A1", "sku", str = true) + cell("B1", "qty", str = true) + "</row>")
    for (i <- 0 until sz.excelRows) {
      val n = i + 2
      // a blank xlsx cell reads as "", not null: plain skus only
      val (s, q) = line(kept = true, plain = true)
      sheet.append(s"""<row r="$n">""" + cell(s"A$n", s.get, str = true) +
        cell(s"B$n", q, str = q == "n/a") + "</row>")
    }
    sheet.append("</sheetData></worksheet>")
    val zip = new java.util.zip.ZipOutputStream(Files.newOutputStream(dir.resolve("walmart.xlsx")))
    try {
      zip.putNextEntry(new java.util.zip.ZipEntry("xl/worksheets/sheet1.xml"))
      zip.write(sheet.toString.getBytes(UTF_8))
      zip.closeEntry()
    } finally zip.close()
    t
  }
}
