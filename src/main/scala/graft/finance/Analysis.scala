package graft.finance

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's analysis query library
  * (/root/reference/panda_analysis.py), parameterized over the categorized
  * transactions DataFrame (`pc`, columns: account, book_date, valuta_date,
  * party, book_text, purpose, transfer_category, amount, balance, cat).
  *
  * Every query is a lazy DataFrame expression — Catalyst pushes the year /
  * account predicates into the store scan and prunes columns; nothing here
  * collects except the intentionally-scalar results (tax sums), which are
  * single-row aggregates.
  */
object Analysis {

  private val mainAccounts = Seq("giro", "gesa", "common")

  /** Null-safe case-insensitive regex containment — pandas
    * `str.contains(pat, case=False, na=False)`.
    */
  private def containsCiRe(c: Column, pattern: String): Column =
    coalesce(c, lit("")).rlike("(?i)" + pattern)

  /** Q1 (panda_analysis.py:29-53): uncategorized transactions on the main
    * accounts for a year, sorted by amount ascending (most-negative first).
    */
  def uncategorized(pc: DataFrame, yr: Int): DataFrame =
    pc.filter(year(col("book_date")) === yr &&
        col("transfer_category").isNull &&
        col("account").isin(mainAccounts: _*) &&
        col("cat").isNull)
      .withColumn("amount_type",
        when(col("amount") > 0, "Gutschrift").otherwise("Abbuchung"))
      .select("account", "book_date", "party", "purpose", "amount", "cat")
      .orderBy(asc("amount"))

  /** Q2 (panda_analysis.py:64-79): cumulative-sum curve over Q1.
    *
    * Round-20: the curve used to be ONE global-order window
    * (`Window.orderBy(amount)`), which moves every row to a single
    * partition — the WindowExec "No Partition Defined" funnel that
    * serializes the whole slice through one task at scale. Replaced
    * with the repo's two-pass distributed prefix sum
    * ([[graft.finance.Store]]'s id-assignment pattern): range-
    * repartition on the sort key (equal keys co-locate, partition i's
    * range precedes partition i+1's), a PER-PARTITION running sum
    * (window partitioned by `spark_partition_id()` — parallel), plus
    * each earlier partition's total via a ≤(#partitions)-row aggregate
    * cumulated by a tiny window and broadcast back. The persist pins
    * one partition layout for both consumers of the sorted frame (the
    * offsets aggregate and the main pass — the Store.scala:118 note).
    * Same curve: per-partition left-fold + in-order partition offsets
    * compose to the same running sum over the same amount-ascending
    * order (ties co-locate, their intra-order as unspecified as the
    * single-partition window's was).
    */
  def uncategorizedCumsum(pc: DataFrame, yr: Int): DataFrame = {
    val sorted = uncategorized(pc, yr)
      .repartitionByRange(asc("amount"))
      .sortWithinPartitions(asc("amount"))
      .transform(graft.CacheHandles.persistTracked)
    val byPid = sorted.withColumn("graft_pid", spark_partition_id())
    val pidW = Window.orderBy("graft_pid")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = byPid.groupBy("graft_pid")
      .agg(sum("amount").as("graft_psum"))
      .select(col("graft_pid"),
        coalesce(sum("graft_psum").over(pidW), lit(0.0)).as("graft_off"))
    val runW = Window.partitionBy("graft_pid").orderBy(asc("amount"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byPid.join(broadcast(offsets), Seq("graft_pid"))
      .withColumn("cumulative_sum",
        col("graft_off") + sum("amount").over(runW))
      .select((sorted.columns.map(col) :+ col("cumulative_sum")).toSeq: _*)
  }

  val incomeCats: Seq[String] = Seq(
    "einnahmen::gehalt::andreas", "einnahmen::gehalt::gesa",
    "einnahmen::dividende")

  /** Q3 (panda_analysis.py:83-96): income transactions for a year. */
  def income(pc: DataFrame, yr: Int): DataFrame =
    pc.filter(year(col("book_date")) === yr && col("cat").isin(incomeCats: _*))

  /** Q4 (panda_analysis.py:100-122): per-category income sums + an
    * 'Overall Sum' grand-total row.
    */
  def incomeOverview(pc: DataFrame, yr: Int): DataFrame = {
    val in = income(pc, yr)
    val byCat = in.groupBy("cat").agg(sum("amount").as("category_sum"))
    val total = in.agg(lit("Overall Sum").as("cat"),
      sum("amount").as("category_sum"))
    byCat.orderBy("cat").unionByName(total)
  }

  /** Q5 (panda_analysis.py:126-144): expenses for a year — excludes intern/
    * einnahmen category prefixes and transfers, main accounts only.
    */
  def expenses(pc: DataFrame, yr: Int): DataFrame =
    pc.filter(year(col("book_date")) === yr &&
      !(coalesce(col("cat"), lit("")).startsWith("intern")) &&
      !(coalesce(col("cat"), lit("")).startsWith("einnahmen")) &&
      col("transfer_category").isNull &&
      col("account").isin(mainAccounts: _*))

  /** Q6 (panda_analysis.py:148-190): expense overview pivoted by account,
    * with per-category totals and an 'Overall Sum' row. The reference's
    * groupby+unstack+map dance is a single groupBy+pivot here.
    */
  def expenseOverview(pc: DataFrame, yr: Int): DataFrame = {
    val ex = expenses(pc, yr)
      .withColumn("cat", coalesce(col("cat"), lit("Uncategorized")))
    val pivoted = ex.groupBy("cat")
      .pivot("account", mainAccounts)
      .agg(sum("amount"))
      .na.fill(0.0, mainAccounts)
    val withTotal = ex.groupBy("cat").agg(sum("amount").as("category_sum"))
      .join(pivoted, Seq("cat"))
      .select("cat", "category_sum", "giro", "gesa", "common")
    val overall = ex.agg(
      lit("Overall Sum").as("cat"), sum("amount").as("category_sum"),
      sum(when(col("account") === "giro", col("amount")).otherwise(0)).as("giro"),
      sum(when(col("account") === "gesa", col("amount")).otherwise(0)).as("gesa"),
      sum(when(col("account") === "common", col("amount")).otherwise(0)).as("common"))
    withTotal.orderBy("cat").unionByName(overall)
  }

  /** Q7 (panda_analysis.py:193-198): giro credits for a year. */
  def giroCredits(pc: DataFrame, yr: Int): DataFrame =
    pc.filter(col("account") === "giro" && col("amount") > 0 &&
      year(col("book_date")) === yr)

  /** Q8 (panda_analysis.py:202-211): legal costs — case-insensitive regex
    * OR-containment across party/purpose.
    */
  def legalCosts1(pc: DataFrame): DataFrame =
    pc.filter(containsCiRe(col("party"), "KNH|zirngibl") ||
      containsCiRe(col("purpose"), "KNH|zirngibl"))

  /** Q9 (panda_analysis.py:214-223): legal costs #2 — category prefix OR
    * party/purpose containment.
    */
  def legalCosts2(pc: DataFrame): DataFrame =
    pc.filter(coalesce(col("cat"), lit("")).startsWith("anwalt") ||
      containsCiRe(col("purpose"), "luig") ||
      containsCiRe(col("party"), "liu"))

  /** Q10/Q11 (panda_analysis.py:227-245): cleaning expenses in an open
    * (start, end) book_date interval on the common account.
    */
  def cleaningCosts(pc: DataFrame, start: String, end: String): DataFrame =
    pc.filter(col("account") === "common" &&
      col("book_date") > to_date(lit(start)) &&
      col("book_date") < to_date(lit(end)) &&
      col("cat") === "wohnen::putzen")

  /** Q12 (panda_analysis.py:249-259): loan payments with both a
    * case-insensitive 'Tilgung' and case-SENSITIVE 'Leistung' containment.
    */
  def loanPayments(pc: DataFrame, yr: Int): DataFrame =
    pc.filter(year(col("book_date")) === yr && col("account") === "common" &&
      containsCiRe(col("purpose"), "Tilgung") &&
      coalesce(col("purpose"), lit("")).contains("Leistung"))

  /** Q13-Q16 (panda_analysis.py:262-297): scalar cost sums for the
    * home-office deduction. Each returns a 1-row (label, total) frame.
    */
  def scalarSum(df: DataFrame, label: String): DataFrame =
    df.agg(lit(label).as("position"),
      coalesce(sum("amount"), lit(0.0)).as("total"))

  def electricity(pc: DataFrame, yr: Int): DataFrame =
    pc.filter(containsCiRe(col("party"), "Naturstrom") &&
      year(col("book_date")) === yr)

  def housingFees(pc: DataFrame, yr: Int): DataFrame =
    pc.filter(col("cat") === "wohnen::wohngeld" && year(col("book_date")) === yr)

  def propertyTax(pc: DataFrame, yr: Int): DataFrame =
    pc.filter(year(col("book_date")) === yr && col("amount") < 0 &&
      containsCiRe(col("purpose"), "Grundst"))

  def mobilePhone(pc: DataFrame, yr: Int, needle: String): DataFrame =
    pc.filter(year(col("book_date")) === yr &&
      coalesce(col("purpose"), lit("")).contains(needle))

  /** German-format amount string "1.234,56" → double
    * (panda_analysis.py:344-350 `_euro`).
    */
  def euro(c: Column): Column =
    regexp_replace(regexp_replace(c, "\\.", ""), ",", ".").cast("double")

  /** Q17 (panda_analysis.py:351-354): loan INTEREST extracted from free-text
    * purpose ("... Tilgung 898,22 Zinsen 140,12") and summed. A purpose
    * without a `Zinsen n,nn` amount contributes NULL, which the sum skips —
    * pandas `str.extract` yields NaN there; a match that does not parse
    * still fails the cast loudly.
    */
  def loanInterest(pc: DataFrame, yr: Int): DataFrame =
    pc.filter(year(col("book_date")) === yr && col("account") === "common" &&
        coalesce(col("purpose"), lit("")).contains("Darl.-Leistung"))
      .select(euro(nullif(regexp_extract(col("purpose"),
        "Zinsen\\s+([\\d.]+,\\d{2})", 1), lit(""))).as("zinsen"))
      .agg(coalesce(sum("zinsen"), lit(0.0)).as("total"))

  /** Q18-Q20 (panda_analysis.py:386-450): home-office deduction table — AfA
    * rows (constants ÷ depreciation years) unioned with the year's running
    * costs, all scaled by the office area ratio. Constants live in tiny
    * local DataFrames; the running costs are 1-row aggregates — the join is
    * a broadcast of literally a handful of rows.
    */
  def homeOfficeReport(
      pc: DataFrame, yr: Int,
      afaCosts: Seq[(String, Double)], afaYears: Int,
      officeRatio: Double): DataFrame = {
    val spark = pc.sparkSession
    import spark.implicits._
    val afa = afaCosts.toDF("position", "cost")
      .select(col("position"), (col("cost") / afaYears).as("gesamtkosten"))
    val y = year(col("book_date")) === yr
    val running = Seq(
      loanInterest(pc, yr).select(lit("Darlehenszinsen").as("position"),
        col("total").as("gesamtkosten")),
      scalarSum(electricity(pc, yr), "Stromkosten")
        .select(col("position"), (-col("total")).as("gesamtkosten")),
      scalarSum(housingFees(pc, yr), "Hausgeld")
        .select(col("position"), (-col("total")).as("gesamtkosten")),
      scalarSum(propertyTax(pc, yr), "Grundsteuer")
        .select(col("position"), (-col("total")).as("gesamtkosten")))
      .reduce(_ unionByName _)
    afa.unionByName(running)
      .withColumn("raumkosten", col("gesamtkosten") * officeRatio)
  }
}
