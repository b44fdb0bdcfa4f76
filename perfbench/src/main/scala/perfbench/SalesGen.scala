package perfbench

import graft.etl.SalesEtl.Err

import java.io.{BufferedWriter, File, FileWriter}
import java.time.LocalDate
import scala.collection.mutable

/** Seeded messy-sales CSV in the layout of the reference's
  * `messy_sales_data.csv`, with every defect kind that file has: bad
  * type, missing field, bad and `yyyy/MM/dd` dates, non-positive
  * values, duplicate and non-numeric ids, a quoted comma, an all-blank
  * row, an extra column and leading zeros, plus short and empty lines.
  *
  * The generator decides each line's fate as it writes it, so the file
  * comes with its ground truth: the clean count, the dead-letter count
  * per error message, and the clean rows' total sale. Ids are unique
  * except where a line is meant to be a duplicate; a duplicate reuses
  * an id that an earlier line claimed (first-wins dedup claims an id
  * before the type and date checks run).
  */
object SalesGen {

  final case class Truth(lines: Long, clean: Long, errors: Map[String, Long],
                         totalSale: Double) {
    def errorRows: Long = errors.values.sum
  }

  private val products = Vector("Laptop", "Mouse", "Keyboard", "Monitor", "Webcam",
    "Phone", "Charger", "Speaker", "Tablet", "Headphones", "Desk Lamp", "Chair",
    "Mousepad", "Monitor Stand", "Phone Case", "USB Cable")
  private val day0 = LocalDate.of(2024, 1, 1)

  /** Line kinds and their weights out of 1000. */
  private val kinds: Vector[(String, Int)] = Vector(
    "clean" -> 560, "clean_zeros" -> 40, "clean_slash" -> 50, "clean_extra" -> 30,
    "clean_padded" -> 30, "clean_quoted" -> 20,
    "bad_price" -> 25, "bad_quantity" -> 20, "quoted_comma" -> 20,
    "missing_id" -> 15, "missing_product" -> 15, "blank_quantity" -> 15, "blank_row" -> 10,
    "bad_month" -> 15, "not_a_date" -> 15, "negative_price" -> 15, "zero_price" -> 10,
    "duplicate" -> 40, "non_numeric_id" -> 20, "empty_product" -> 10,
    "short_line" -> 10, "empty_line" -> 15)
  private val cumulative = kinds.scanLeft(0)(_ + _._2).tail
  require(cumulative.last == 1000)

  /** Writes `lines` data lines plus a header to `out`. */
  def write(out: File, lines: Int, seed: Long): Truth = {
    val rnd = new java.util.SplittableRandom(seed)
    val claimed = mutable.ArrayBuffer.empty[String]
    val errors = mutable.Map.empty[String, Long].withDefaultValue(0L)
    var clean = 0L
    var total = 0.0
    var next = 1L
    def fresh(): String = { val id = next.toString; next += 1; id }
    def price(): String = { val c = 100 + rnd.nextInt(199900); f"${c / 100}%d.${c % 100}%02d" }
    def date(slash: Boolean): String = {
      val d = day0.plusDays(rnd.nextInt(366).toLong).toString
      if (slash) d.replace('-', '/') else d
    }
    def product(): String = products(rnd.nextInt(products.size))
    def quantity(): Int = 1 + rnd.nextInt(9)
    val w = new BufferedWriter(new FileWriter(out), 1 << 16)
    try {
      w.write("id,product,price,quantity,sale_date\n")
      for (_ <- 0 until lines) {
        val r = rnd.nextInt(1000)
        val kind = kinds(cumulative.indexWhere(r < _))._1
        // a valid line's fields; each kind below breaks at most one of them
        val p = price(); val q = quantity(); val d = date(slash = false); val prod = product()
        def ok(id: String, shown: String): String = {
          claimed += id; clean += 1; total += p.toDouble * q; shown
        }
        def fail(msg: String, claims: Option[String], line: String): String = {
          claims.foreach(claimed += _); errors(msg) += 1; line
        }
        val line = kind match {
          case "clean" => val id = fresh(); ok(id, s"$id,$prod,$p,$q,$d")
          case "clean_zeros" => val id = "00" + fresh(); ok(id, s"$id,$prod,$p,$q,$d")
          case "clean_slash" => val id = fresh(); ok(id, s"$id,$prod,$p,$q,${date(slash = true)}")
          case "clean_extra" => val id = fresh(); ok(id, s"$id,$prod,$p,$q,$d,EXTRA_COLUMN")
          case "clean_padded" => val id = fresh(); ok(id, s" $id ,  $prod  ,  $p  , $q , $d")
          case "clean_quoted" => val id = fresh(); ok(id, s"$id,\"$prod \"\"Pro\"\"\",$p,$q,$d")
          case "bad_price" => val id = fresh(); fail(Err.BadType, Some(id), s"$id,$prod,twenty,$q,$d")
          case "bad_quantity" => val id = fresh(); fail(Err.BadType, Some(id), s"$id,$prod,$p,word,$d")
          case "quoted_comma" =>
            val id = fresh(); fail(Err.BadType, Some(id), s"$id,\"$prod, Portable\",$p,$q,$d")
          case "missing_id" => fail(Err.Missing, None, s",$prod,$p,$q,$d")
          case "missing_product" => fail(Err.Missing, None, s"${fresh()},,$p,$q,$d")
          case "blank_quantity" => fail(Err.Missing, None, s"${fresh()},$prod,$p, ,$d")
          case "blank_row" => fail(Err.Missing, None, s"${fresh()}, , , , ")
          case "bad_month" =>
            val id = fresh(); fail(Err.BadDate, Some(id), s"$id,$prod,$p,$q,2024-18-01")
          case "not_a_date" => val id = fresh(); fail(Err.BadDate, Some(id), s"$id,$prod,$p,$q,notadate")
          case "negative_price" =>
            val id = fresh(); fail(Err.NonPositive, Some(id), s"$id,$prod,-$p,$q,$d")
          case "zero_price" => val id = fresh(); fail(Err.NonPositive, Some(id), s"$id,$prod,0,$q,$d")
          case "duplicate" if claimed.nonEmpty =>
            val id = claimed(rnd.nextInt(claimed.size))
            fail(Err.Duplicate, None, s"$id,$prod,$p,$q,$d")
          case "duplicate" => val id = fresh(); ok(id, s"$id,$prod,$p,$q,$d")
          case "non_numeric_id" =>
            val id = s"x${fresh()}"; fail(Err.BadId, Some(id), s"$id,$prod,$p,$q,$d")
          case "empty_product" => val id = fresh(); fail(Err.BadProduct, Some(id), s"$id,\"\",$p,$q,$d")
          case "short_line" => fail(Err.Malformed, None, s"${fresh()},$prod,$p")
          case "empty_line" => fail(Err.Malformed, None, "")
        }
        w.write(line)
        w.write('\n')
      }
    } finally w.close()
    Truth(lines.toLong, clean, errors.toMap, total)
  }
}
