package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

/** Seeded transactions CSV in the CLI's input format (the columns
  * `TaxCalc.readCsv` declares). The same seed and row count always give the
  * same bytes. Every data line is either valid or malformed in one of the
  * ways the CLI must reject, and the generator counts both. */
object TaxGen {
  final case class Csv(text: String, valid: Int, malformed: Int) {
    def dataLines: Int = valid + malformed
  }

  val header = "transaction_id,transaction_date,amount,state,city,item_category,tax_paid"

  /** The 50 states plus DC, and a code the rate tables do not know. */
  val states: IndexedSeq[String] = ("AK AL AR AZ CA CO CT DC DE FL GA HI IA ID IL IN KS KY LA MA " +
    "MD ME MI MN MO MS MT NC ND NE NH NJ NM NV NY OH OK OR PA RI SC SD TN TX UT VA VT WA " +
    "WI WV WY").split(' ').toIndexedSeq
  val unknownState = "ZZ"
  /** States without a sales tax, so the tax owed is zero. */
  val noTaxStates: Set[String] = Set("DE", "MT", "NH", "OR")

  /** Cities with their own local rate; others fall back to the state's
    * average local rate. */
  val listedCities: Map[String, Seq[String]] = Map(
    "AL" -> Seq("Birmingham", "Mobile"), "AZ" -> Seq("Phoenix", "Tucson"),
    "CA" -> Seq("Los Angeles", "San Francisco", "San Diego"), "CO" -> Seq("Denver"),
    "FL" -> Seq("Miami", "Orlando"), "GA" -> Seq("Atlanta"), "IL" -> Seq("Chicago", "Springfield"),
    "LA" -> Seq("New Orleans"), "MO" -> Seq("St. Louis City", "Kansas City"),
    "NY" -> Seq("New York City", "Buffalo"), "OH" -> Seq("Columbus", "Cleveland"),
    "TN" -> Seq("Nashville"), "TX" -> Seq("Houston", "Dallas", "Austin"),
    "WA" -> Seq("Seattle"))
  val unlistedCity = "Smallville"

  /** Exempt categories, their synonyms, taxable categories, and none. */
  val categories: IndexedSeq[String] = IndexedSeq("grocery", "groceries", "food",
    "prescription_drug", "rx", "prescription", "clothing", "apparel", "medical_device",
    "medical", "electronics", "furniture", "software", "toys", "")

  /** Rows the CLI must drop: an unparsable amount, an unparsable date, no
    * state, no amount, and a line with too few fields. */
  private val malformedKinds = 5

  def generate(seed: Long, rows: Int, malformedEvery: Int = 50): Csv = {
    val rnd = new java.util.SplittableRandom(seed)
    val sb = new StringBuilder(rows * 64)
    sb.append(header).append('\n')
    var valid, malformed = 0
    val day0 = java.time.LocalDate.of(2022, 1, 1)
    for (i <- 0 until rows) {
      val id = f"T$i%09d"
      val date = day0.plusDays(rnd.nextInt(1700)).toString
      val cents = 100L + rnd.nextLong(500000L)
      val amount = f"${cents / 100}%d.${cents % 100}%02d"
      val r = rnd.nextInt(100)
      val state =
        if (r == 0) unknownState
        else if (r == 1) states(rnd.nextInt(states.length)).toLowerCase + " "
        else states(rnd.nextInt(states.length))
      val stCode = state.trim.toUpperCase
      val city = rnd.nextInt(4) match {
        case 0 | 1 => listedCities.get(stCode)
          .map(cs => cs(rnd.nextInt(cs.length))).getOrElse(unlistedCity)
        case 2 => unlistedCity
        case _ => ""
      }
      val category = categories(rnd.nextInt(categories.length))
      val taxPaid = rnd.nextInt(5) match {
        // exact when nothing is owed, overpaid at a rate above any
        // combined rate, underpaid at 1%, zero, or not recorded
        case 0 if noTaxStates(stCode) => "0.00"
        case 0 | 1 => money(cents * 15 / 100)
        case 2 => money(cents / 100)
        case 3 => "0.00"
        case _ => ""
      }
      val line = s"$id,$date,$amount,$state,$city,$category,$taxPaid"
      if (i % malformedEvery == malformedEvery - 1) {
        malformed += 1
        sb.append(i / malformedEvery % malformedKinds match {
          case 0 => s"$id,$date,N/A,$state,$city,$category,$taxPaid"
          case 1 => s"$id,not-a-date,$amount,$state,$city,$category,$taxPaid"
          case 2 => s"$id,$date,$amount,,$city,$category,$taxPaid"
          case 3 => s"$id,$date,,$state,$city,$category,$taxPaid"
          case _ => s"$id,$date,$amount"
        })
      } else {
        valid += 1
        sb.append(line)
      }
      sb.append('\n')
    }
    Csv(sb.toString, valid, malformed)
  }

  private def money(cents: Long): String = f"${cents / 100}%d.${cents % 100}%02d"

  /** Writes the CSV and, next to it, the expected valid and malformed row
    * counts. */
  def write(csv: Csv, path: Path): Unit = {
    Files.write(path, csv.text.getBytes(StandardCharsets.UTF_8))
    Files.write(path.resolveSibling(path.getFileName.toString + ".expected"),
      s"valid=${csv.valid}\nmalformed=${csv.malformed}\n".getBytes(StandardCharsets.UTF_8))
  }
}
