package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.time.LocalDate
import java.time.format.DateTimeFormatter

import scala.util.Random

import graft.finance.{CategoryRuleTable, SubstringRule, TransactionSchema}

/** One booked transaction as the bank exports it. */
final case class Txn(account: String, bookDate: LocalDate,
    valutaDate: LocalDate, party: String, bookText: String, purpose: String,
    amountCents: Long, balanceCents: Long) {
  def amount: Double = amountCents / 100.0
  /** The store's natural dedup key (TransactionSchema.dedupKey). */
  def naturalKey: (String, LocalDate, LocalDate, String, String, String, Long) =
    (account, bookDate, valutaDate, party, bookText, purpose, amountCents)
}

/** Seeded generator of ING statement CSVs: the preamble, the header line,
  * ISO-8859-1 text and German dates and numbers that `IngCsv` parses.
  * Party and purpose text come partly from `CategoryRuleTable` patterns
  * and partly from noise. Statements cover `periodMonths` each and repeat
  * the previous period's last `overlapDays` days, as a re-export does, so
  * the import's dedup has duplicates to drop.
  *
  * Exactly one transaction, on the `common` account in `defectYear`, has a
  * purpose with `Darl.-Leistung` and no `Zinsen n,nn` amount; the year's
  * report trips over it (see NOTES.md).
  */
object IngGen {
  final case class Spec(startYear: Int, years: Int, rowsPerYear: Int,
      periodMonths: Int, overlapDays: Int, defectYear: Int)

  /** One import's statements: a file per account, the rows they hold
    * (re-exported days included) and the bytes of those rows. */
  final case class Statement(period: Int, files: Seq[Path], txns: Seq[Txn],
      bytes: Long)

  private val ibanOf: Map[String, String] =
    TransactionSchema.ibanAccountMap.map(_.swap)
  val accounts: Seq[String] = ibanOf.keys.toSeq.sorted

  private def usable(r: SubstringRule): Boolean =
    !r.pattern.exists(c => c == ';' || c == '"' || c == '\\' || c > 'ÿ') &&
      r.pattern.trim == r.pattern && r.pattern.nonEmpty
  private val catRules = CategoryRuleTable.categoryRules.filter(usable).toIndexedSeq
  private val transferRules = CategoryRuleTable.transferRules.filter(usable).toIndexedSeq

  private val noiseParties = IndexedSeq("Hans Weiß", "Jürgen Schäfer GmbH",
    "Bäckerei Köhler", "Stadtwerke Nord", "Grünes Gärtchen eG",
    "Müller & Söhne", "Parkhaus Mitte", "Zoë Brandt", "Verein für Sport",
    "Kiosk am Eck", "Tierarztpraxis Jäger", "Fahrradladen Rückenwind")
  private val noiseWords = IndexedSeq("Rechnung", "Kundennr", "Vertrag",
    "Monatsbeitrag", "Bestellung", "Grüße", "Erstattung", "Abschlag",
    "Gebühr", "Mitgliedschaft", "Auftrag", "Lieferung", "März", "Überweisung")
  private val debitTexts = IndexedSeq("Lastschrift", "Überweisung",
    "Dauerauftrag / Terminueberweisung", "Entgelt")

  private def noisePurpose(rnd: Random): String =
    (1 to 1 + rnd.nextInt(3)).map(_ => noiseWords(rnd.nextInt(noiseWords.size)))
      .mkString(" ") + s" Ref ${100000 + rnd.nextInt(900000)}"

  private def casing(rnd: Random, s: String): String = rnd.nextInt(3) match {
    case 0 => s
    case 1 => s.toUpperCase
    case _ => s.toLowerCase
  }

  private def eurosCents(rnd: Random, lo: Int, hi: Int): Long =
    (lo + rnd.nextInt(hi - lo)) * 100L + rnd.nextInt(100)

  /** All transactions of the spec, in booking order per account, with the
    * running balance the bank prints. */
  def transactions(seed: Long, spec: Spec): Seq[Txn] = {
    val rnd = new Random(seed)
    val first = LocalDate.of(spec.startYear, 1, 1)
    val days = (first.plusYears(spec.years).toEpochDay - first.toEpochDay).toInt
    val n = spec.rowsPerYear * spec.years
    // dates spread evenly, so every period holds the same number of rows
    // whatever the seed; the seed draws everything else
    val raw = (0 until n).map { i =>
      val d = first.plusDays(i.toLong * days / n)
      val valuta = d.plusDays(rnd.nextInt(3).toLong)
      val pick = rnd.nextInt(100)
      if (pick < 55) {
        val r = catRules(rnd.nextInt(catRules.size))
        val acct = r.accountScope.filter(_ => rnd.nextInt(5) > 0)
          .getOrElse(accounts(rnd.nextInt(accounts.size)))
        val text = casing(rnd, r.pattern) +
          (if (rnd.nextBoolean()) s" ${noiseWords(rnd.nextInt(noiseWords.size))}" else "")
        val income = r.category.startsWith("einnahmen")
        val amt = if (income) eurosCents(rnd, 300, 4000) else -eurosCents(rnd, 2, 400)
        val bookText =
          if (r.attribute == "book_text") text
          else if (income) (if (rnd.nextInt(4) == 0) "Gehalt/Rente" else "Gutschrift")
          else debitTexts(rnd.nextInt(debitTexts.size))
        val party = if (r.attribute == "party") text
          else noiseParties(rnd.nextInt(noiseParties.size))
        val purpose = if (r.attribute == "purpose") text else noisePurpose(rnd)
        // a loan-rate rule's purpose carries the rate's split, as the bank
        // prints it; the split-less form is the one defect row below
        if (purpose.contains("Darl.-Leistung")) {
          val (til, zin) = (eurosCents(rnd, 500, 1000), eurosCents(rnd, 50, 300))
          (acct, d, valuta, party, bookText,
            s"$purpose Tilgung ${german(til)} Zinsen ${german(zin)}", -(til + zin))
        } else (acct, d, valuta, party, bookText, purpose, amt)
      } else if (pick < 60) {
        val r = transferRules(rnd.nextInt(transferRules.size))
        ("giro", d, valuta, noiseParties(rnd.nextInt(noiseParties.size)),
          "Überweisung", s"${r.pattern} ${noisePurpose(rnd)}",
          -eurosCents(rnd, 50, 1500))
      } else if (pick < 63) {
        val til = eurosCents(rnd, 500, 1000); val zin = eurosCents(rnd, 50, 300)
        ("common", d, valuta, "Hausbank Darlehen", "Lastschrift",
          s"Darl.-Leistung ${6000000000L + rnd.nextInt(1000000)} " +
            s"Tilgung ${german(til)} Zinsen ${german(zin)}", -(til + zin))
      } else {
        val credit = rnd.nextInt(5) == 0
        (accounts(rnd.nextInt(accounts.size)), d, valuta,
          noiseParties(rnd.nextInt(noiseParties.size)),
          if (credit) "Gutschrift" else debitTexts(rnd.nextInt(debitTexts.size)),
          noisePurpose(rnd),
          if (credit) eurosCents(rnd, 10, 2000) else -eurosCents(rnd, 1, 600))
      }
    }
    val defect = ("common", LocalDate.of(spec.defectYear, 6, 15),
      LocalDate.of(spec.defectYear, 6, 15), "Hausbank Darlehen", "Lastschrift",
      "Darl.-Leistung 6012345678 Sondertilgung", -50000L)
    (raw :+ defect).groupBy(_._1).toSeq.sortBy(_._1).flatMap { case (_, ts) =>
      var bal = 500000L
      ts.sortBy(t => (t._2.toEpochDay, t._6, t._7)).map {
        case (a, d, v, p, bt, pu, amt) =>
          bal += amt
          Txn(a, d, v, p, bt, pu, amt, bal)
      }
    }
  }

  /** "-1.234,56" — the bank's number format. */
  def german(cents: Long): String = {
    val sign = if (cents < 0) "-" else ""
    val abs = math.abs(cents)
    val euros = (abs / 100).toString.reverse.grouped(3).mkString(".").reverse
    f"$sign$euros,${abs % 100}%02d"
  }

  private val dmy = DateTimeFormatter.ofPattern("dd.MM.yyyy")

  /** Write one statement file per (period, account); returns them grouped
    * by period, in period order. */
  def writeStatements(txns: Seq[Txn], spec: Spec, dir: Path): Seq[Statement] = {
    Files.createDirectories(dir)
    val first = LocalDate.of(spec.startYear, 1, 1)
    val periods = spec.years * 12 / spec.periodMonths
    (0 until periods).map { p =>
      val start = first.plusMonths((p * spec.periodMonths).toLong)
      val end = start.plusMonths(spec.periodMonths.toLong).minusDays(1)
      val from = if (p == 0) start else start.minusDays(spec.overlapDays.toLong)
      var bytes = 0L
      val all = Seq.newBuilder[Txn]
      val files = accounts.map { acct =>
        val rows = txns.filter(t => t.account == acct &&
          !t.bookDate.isBefore(from) && !t.bookDate.isAfter(end))
          .sortBy(t => -t.bookDate.toEpochDay) // the bank lists newest first
        all ++= rows
        val iban = ibanOf(acct)
        val header = Seq(
          s"Umsatzanzeige;Datei erstellt am: ${end.plusDays(1).format(dmy)} 09:15",
          "",
          s"IBAN;${iban.grouped(4).mkString(" ")}",
          s"Kontoname;Konto $acct",
          "Bank;ING",
          "Kunde;Erika Mustermann",
          s"Zeitraum;${from.format(dmy)} - ${end.format(dmy)}",
          s"Saldo;${german(rows.headOption.map(_.balanceCents).getOrElse(0L))};EUR",
          "",
          "Sortierung;Datum absteigend",
          "",
          "In der CSV-Datei finden Sie alle bereits gebuchten Umsätze.",
          "",
          "Buchung;Wertstellungsdatum;Auftraggeber/Empfänger;Buchungstext;" +
            "Verwendungszweck;Saldo;Währung;Betrag;Währung")
        val body = rows.map(t => Seq(t.bookDate.format(dmy),
          t.valutaDate.format(dmy), t.party, t.bookText, t.purpose,
          german(t.balanceCents), "EUR", german(t.amountCents), "EUR")
          .mkString(";"))
        val path = dir.resolve(
          s"Umsatzanzeige_${iban}_${end.toString.replace("-", "")}.csv")
        val data = (header ++ body).mkString("\r\n") + "\r\n"
        val b = data.getBytes(StandardCharsets.ISO_8859_1)
        Files.write(path, b)
        bytes += body.map(_.length + 2).sum
        path
      }
      Statement(p, files, all.result(), bytes)
    }
  }
}

/** Plain-Scala oracle for the ledger workloads: the reference's rule
  * cascade (CategoryRuleTable, last writer wins, then the five special
  * rules), the import dedup and the year totals the report prints. */
object LedgerOracle {
  final case class Row(t: Txn, transfer: Option[String], category: Option[String])

  private def hit(r: SubstringRule, t: Txn): Boolean = {
    val text = r.attribute match {
      case "party"     => t.party
      case "purpose"   => t.purpose
      case "book_text" => t.bookText
      case other       => sys.error(s"rule attribute $other")
    }
    Option(text).getOrElse("").toLowerCase.contains(r.pattern.toLowerCase) &&
      r.accountScope.forall(_ == t.account)
  }

  private def lastHit(rules: Seq[SubstringRule], t: Txn): Option[String] =
    rules.reverseIterator.find(hit(_, t)).map(_.category)

  def transfer(t: Txn): Option[String] =
    lastHit(CategoryRuleTable.transferRules, t).orElse(
      if (t.amountCents < 0 && t.account == "extra") Some("extra::giro") else None)

  def category(t: Txn): Option[String] = {
    def ci(s: String, p: String) = s.toLowerCase.contains(p.toLowerCase)
    val special = Seq(
      (ci(t.party, "VISA APPLE.COM/BILL") && t.amountCents > -5000) -> "media",
      (t.account == "gesa" && t.bookText == "Gehalt/Rente") -> "einnahmen::gehalt::gesa",
      (t.account == "giro" && (t.party == "Kreuzwerker" ||
        t.party == "ANDREAS EDMOND PROFOUS")) -> "einnahmen::gehalt::andreas",
      (t.account == "giro" && ci(t.purpose, "Smartbroker") && t.amountCents > 0) ->
        "einnahmen::dividende",
      (ci(t.party, "Finanzamt Charlottenburg") && t.bookText == "Gutschrift") ->
        "einnahmen::steuererstattung")
    special.reverseIterator.collectFirst { case (true, c) => c }
      .orElse(lastHit(CategoryRuleTable.categoryRules, t))
  }

  /** The store after importing every statement: one row per distinct
    * natural key, categorized. */
  def store(statementTxns: Seq[Txn]): Seq[Row] =
    statementTxns.distinctBy(_.naturalKey).map(t => Row(t, transfer(t), category(t)))

  private val main = Set("giro", "gesa", "common")
  private val incomeCats = graft.finance.Analysis.incomeCats.toSet

  /** (income total, expense total, uncategorized rows) of a year, in
    * cents and rows, as Analysis defines them. */
  def yearTotals(rows: Seq[Row], yr: Int): (Long, Long, Int) = {
    val y = rows.filter(_.t.bookDate.getYear == yr)
    val income = y.filter(r => r.category.exists(incomeCats)).map(_.t.amountCents).sum
    val expense = y.filter(r => r.transfer.isEmpty && main(r.t.account) &&
      !r.category.exists(c => c.startsWith("intern") || c.startsWith("einnahmen")))
      .map(_.t.amountCents).sum
    val uncategorized = y.count(r => r.transfer.isEmpty && main(r.t.account) &&
      r.category.isEmpty)
    (income, expense, uncategorized)
  }
}
