package perfbench

import java.io.{ByteArrayOutputStream, PrintStream}
import java.nio.file.{Files, Path}
import java.sql.Date

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.finance._

/** The paper's own path: ING statement CSVs → categorize → fingerprint
  * dedup → upsert into the store → report, through `finance.Cli`,
  * `finance.Report` and `finance.Analysis`.
  *
  * A round starts from a copy of the history store (every year but the
  * last, written once in set-up), imports the last year's statements
  * period by period through `Cli.ingImport`, runs `Cli.categorize` once and,
  * per year, writes the report (`Report.write`) and lists the uncategorized
  * rows (`Analysis.uncategorized`), each its own op. Each import rewrites
  * the whole store. The round's outputs are checked against [[LedgerOracle]].
  */
final class Ledger extends Workload {
  import Ledger._

  final case class Input(dir: Path, statements: Seq[IngGen.Statement],
      historyTxns: Seq[Txn], history: Option[Path], reportYears: Seq[Int],
      defectYear: Int) {
    /** The oracle's store after the round; computed once, off the clock. */
    lazy val expected: Seq[LedgerOracle.Row] =
      LedgerOracle.store(historyTxns ++ statements.flatMap(_.txns))
  }

  val gated = Map("ingest_p50_s" -> "import", "query_p50_s" -> "report",
    "search_p50_s" -> "uncategorized", "full_pass_s" -> "recategorize")

  def prepare(spark: SparkSession, dir: Path, seed: Long, size: Size): Input = {
    val spec = size match {
      case Size.Full  => Full
      case Size.Small => Small
    }
    Dirs.delete(dir)
    val lastYear = spec.startYear + spec.years - 1
    val (hist, timed) = IngGen.transactions(seed, spec)
      .partition(_.bookDate.getYear < lastYear)
    val statements = IngGen.writeStatements(timed,
      spec.copy(startYear = lastYear, years = 1), dir.resolve("csv"))
    Input(dir, statements, hist, None, spec.startYear to lastYear,
      spec.defectYear)
  }

  override def build(spark: SparkSession, in: Input): Input =
    if (in.historyTxns.isEmpty) in
    else in.copy(history = Some(writeHistory(spark, in.historyTxns,
      in.dir.resolve("history.parquet"))))

  /** The history store a round starts from, written through the
    * library's own categorizer and store columns in one job. */
  private def writeHistory(spark: SparkSession, hist: Seq[Txn], path: Path): Path = {
    val rows = hist.map(t => Row(t.account, Date.valueOf(t.bookDate),
      Date.valueOf(t.valutaDate), t.party, t.bookText, t.purpose, t.amount,
      t.balanceCents / 100.0))
    val raw = spark.createDataFrame(spark.sparkContext.parallelize(rows, 8),
      rawSchema)
      .withColumn("transfer_category", lit(null).cast("string"))
      .withColumn("category", lit(null).cast("string"))
      .withColumn("category_manual", lit(null).cast("string"))
    Store.withStoreColumns(Categorizer.pipeline(raw))
      .withColumn("transaction_id", monotonically_increasing_id() + 1)
      .withColumn("imported_at", current_timestamp())
      .select(TransactionSchema.storeSchema.fieldNames.map(col).toSeq: _*)
      .write.mode("overwrite").parquet(path.toString)
    path
  }

  def round(spark: SparkSession, in: Input, rec: Recorder, round: Int): Unit = {
    val rdir = in.dir.resolve(s"round-$round")
    Dirs.delete(rdir)
    Files.createDirectories(rdir)
    val store = rdir.resolve("store.parquet").toString
    in.history.foreach(h => Dirs.copy(h, rdir.resolve("store.parquet")))
    val t = rec.tracer
    in.statements.foreach { st =>
      rec.op("import") {
        quiet {
          if (t.enabled) tracedImport(spark, store, st.files.mkString(","), rec)
          else Cli.ingImport(spark, store, st.files.mkString(","))
        }
      }
      rec.sample("import_rows", st.txns.size.toDouble)
      rec.tracer.count("sink.new_row_bytes", st.bytes.toDouble)
    }
    rec.op("recategorize") {
      quiet(if (t.enabled) tracedCategorize(spark, store, rec)
        else Cli.categorize(spark, store))
    }
    // per year: the report, then the year's uncategorized rows (the list a
    // user works through to categorize by hand, listed again after each
    // batch of manual edits: ListsPerYear times)
    def reportOp[T](kind: String, expected: Throwable => Boolean)(
        body: DataFrame => T): Either[Throwable, T] =
      rec.op(kind, expected) {
        t.span("finance.Report.self") {
          val (v, eng) = rec.engineDelta(
            body(Categorizer.addCat(Store.load(spark, store))))
          t.count("finance.Report.queries", eng.getOrElse("planning.queries", 0.0))
          v
        }
      }
    in.reportYears.foreach { y =>
      val html = rdir.resolve(s"report-$y.html")
      val report = reportOp("report", isDefect(in, y)) { pc =>
        Report.write(pc, y, html.toString)
      }
      val unc = Seq.fill(ListsPerYear)(reportOp("uncategorized", _ => false) { pc =>
        Analysis.uncategorized(pc, y).collect().length
      })
      checkReport(in, y, report, unc, html, rec)
    }
    checkStore(spark, in, store, rec)
    rec.sample("stored_bytes_per_row",
      Dirs.bytes(rdir.resolve("store.parquet")).toDouble / in.expected.size)
    Dirs.delete(rdir)
  }

  /** The recorded `Analysis.loanInterest` defect: the defect year's report
    * fails the ANSI cast of an empty loan-interest match. */
  private def isDefect(in: Input, y: Int)(e: Throwable): Boolean =
    y == in.defectYear &&
      Option(e.getMessage).getOrElse("").contains("CAST_INVALID_INPUT")

  /** A failed op is already a failed check unless it is the recorded
    * defect, so only successful results are compared here. */
  private def checkReport(in: Input, y: Int, report: Either[Throwable, Unit],
      unc: Seq[Either[Throwable, Int]], html: Path, rec: Recorder): Unit = {
    val (inc, exp, nUnc) = LedgerOracle.yearTotals(in.expected, y)
    unc.foreach(_.foreach(n =>
      rec.check(n == nUnc, s"year $y: $n uncategorized rows, oracle $nUnc")))
    report.foreach { _ =>
      val totals = totalRow.findAllMatchIn(Files.readString(html))
        .map(m => parseGerman(m.group(1))).toSeq
      rec.check(totals.size >= 2 &&
        math.abs(totals(0) - inc / 100.0) < 0.01 &&
        math.abs(totals(1) - exp / 100.0) < 0.01,
        s"report $y totals ${totals.take(2)}, oracle income ${inc / 100.0} " +
          s"expense ${exp / 100.0}")
    }
  }

  private def checkStore(spark: SparkSession, in: Input, store: String,
      rec: Recorder): Unit = {
    val rows = spark.read.parquet(store).select("account", "book_date",
      "valuta_date", "party", "book_text", "purpose", "amount_cents",
      "transfer_category", "category", "fingerprint").collect()
    val expected = in.expected.map(r => r.t.naturalKey -> r).toMap
    rec.check(rows.length == expected.size,
      s"store holds ${rows.length} rows, oracle ${expected.size} distinct natural keys")
    rec.check(rows.map(_.getString(9)).distinct.length == rows.length,
      "store fingerprints are not unique")
    val wrong = rows.filter { r =>
      val key = (r.getString(0), r.getDate(1).toLocalDate, r.getDate(2).toLocalDate,
        r.getString(3), r.getString(4), r.getString(5), r.getLong(6))
      expected.get(key).forall(e => e.transfer != Option(r.getString(7)) ||
        e.category != Option(r.getString(8)))
    }
    rec.check(wrong.isEmpty, s"${wrong.length} store rows disagree with the " +
      s"oracle, e.g. ${wrong.headOption.map(_.toString).getOrElse("")}")
    rec.notes("store") = rows.map(r => (r.getString(9), Option(r.getString(8)))).toSet
  }

  /** The traced round leaves the untraced round's store, and the finance
    * layers' spans cover the import wall within the recorded bound. */
  override def traceCheck(untraced: Recorder, traced: Recorder): Seq[String] = {
    val sameStore = (untraced.notes.get("store"), traced.notes.get("store")) match {
      case (Some(a), Some(b)) if a == b => Nil
      case (a, b) => Seq("the traced round's store differs from the untraced " +
        s"round's (${a.map(_.asInstanceOf[Set[_]].size)} vs " +
        s"${b.map(_.asInstanceOf[Set[_]].size)} (fingerprint, category) pairs)")
    }
    val share = traced.tracer.unattributedShare("op." + ingestKind).getOrElse(1.0)
    sameStore ++ (if (share <= Layers.UnattributedBound) Nil
      else Seq(f"finance layer spans leave $share%.3f of the import wall " +
        s"unattributed (bound ${Layers.UnattributedBound})"))
  }

  def namedMetrics(rec: Recorder, walls: Seq[Double],
      in: Input): Seq[(String, Double, String, Int)] = {
    val imp = rec.samples("import")
    val rep = rec.samples("report")
    val rows = rec.samples("import_rows")
    Seq(
      ("failed_op_share", rec.failed.toDouble / rec.attempted, "share", rec.attempted),
      ("import_p50_s", Main.median(imp), "s", imp.size),
      ("import_rows_per_s", rows.sum / imp.sum, "rows/s", imp.size),
      ("recategorize_s", Main.median(rec.samples("recategorize")), "s",
        rec.samples("recategorize").size),
      ("report_p50_s", Main.median(rep), "s", rep.size),
      ("uncategorized_p50_s", Main.median(rec.samples("uncategorized")), "s",
        rec.samples("uncategorized").size),
      ("stored_bytes_per_row", Main.median(rec.samples("stored_bytes_per_row")),
        "bytes", rec.samples("stored_bytes_per_row").size))
  }

  // ------------------------------------------------------------ traced ops

  private def loadOrEmpty(spark: SparkSession, path: String): DataFrame =
    if (Files.exists(java.nio.file.Paths.get(path))) spark.read.parquet(path)
    else spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      TransactionSchema.storeSchema)

  private def asRaw(existing: DataFrame): DataFrame = existing
    .withColumn("amount", col("amount_cents") / 100.0)
    .withColumn("balance", col("balance_cents") / 100.0)

  private def materialize(df: DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    p.count()
    p
  }

  private val storeCols = Seq("account", "book_date", "valuta_date", "party",
    "book_text", "purpose", "amount_cents", "balance_cents",
    "transfer_category", "category", "category_manual", "fingerprint",
    "imported_at")

  /** Cli.ingImport's calls in Cli's order, each stage materialized inside
    * the span of the layer that computes it. */
  private def tracedImport(spark: SparkSession, store: String, csvs: String,
      rec: Recorder): Unit = {
    val t = rec.tracer
    val existing = loadOrEmpty(spark, store)
    val storeRows = existing.count()
    val storeAsRaw = asRaw(existing).select("account", "book_date",
      "valuta_date", "party", "book_text", "purpose", "amount", "balance",
      "transfer_category", "category", "category_manual")
    val batch = t.span("finance.IngCsv.self") {
      materialize(IngCsv.read(spark, csvs)
        .withColumn("transfer_category", lit(null).cast("string"))
        .withColumn("category", lit(null).cast("string"))
        .withColumn("category_manual", lit(null).cast("string")))
    }
    val batchRows = batch.count()
    t.count("finance.IngCsv.rows", batchRows.toDouble)
    val merged = t.span("finance.Store.import_batch") {
      materialize(Store.importBatch(storeAsRaw, batch))
    }
    val mergedRows = merged.count()
    t.count("finance.Store.batch_rows", batchRows.toDouble)
    t.count("finance.Store.dups", (storeRows + batchRows - mergedRows).toDouble)
    val categorized = categorizeSpan(merged, t)
    val (next, release) = t.span("finance.Store.upsert") {
      val prepared = Store.withStoreColumns(categorized)
        .withColumn("imported_at", current_timestamp())
        .select(storeCols.map(col): _*)
      val (n, r) = Store.upsertReleasable(existing, prepared)
      (materialize(n), r)
    }
    try t.span("finance.Store.save")(Store.save(next, store)) finally release()
    Seq(next, categorized, merged, batch).foreach(_.unpersist(blocking = true))
    spark.read.parquet(store).count()
  }

  /** Cli.categorize's calls, traced the same way. */
  private def tracedCategorize(spark: SparkSession, store: String,
      rec: Recorder): Unit = {
    val t = rec.tracer
    val existing = loadOrEmpty(spark, store)
    val categorized = categorizeSpan(asRaw(existing), t)
    val (next, release) = t.span("finance.Store.upsert") {
      val (n, r) = Store.upsertReleasable(existing,
        categorized.select(storeCols.map(col): _*))
      (materialize(n), r)
    }
    try t.span("finance.Store.save")(Store.save(next, store)) finally release()
    Seq(next, categorized).foreach(_.unpersist(blocking = true))
    spark.read.parquet(store).count()
  }

  private def categorizeSpan(df: DataFrame, t: Tracer): DataFrame =
    t.span("finance.Categorizer.self") {
      val c = Categorizer.pipeline(df).persist(StorageLevel.MEMORY_AND_DISK)
      val r = c.agg(count(lit(1)), count(col("category"))).head()
      t.count("finance.Categorizer.rows", r.getLong(0).toDouble)
      t.count("finance.Categorizer.matched", r.getLong(1).toDouble)
      c
    }
}

object Ledger {
  /** Uncategorized listings per year and round: `search_p50_s`, whose op
    * takes a quarter second, is the median of 12 samples, not of 3. */
  val ListsPerYear = 4

  /** Three years of five accounts: the first two (20k rows) are the
    * starting store, the last arrives as three four-month statement
    * imports of about 3.5k rows each. */
  val Full = IngGen.Spec(2018, 3, 10000, 4, 5, defectYear = 2019)
  /** The warm-up and smoke copy: one year of history, two imports. */
  val Small = IngGen.Spec(2019, 2, 600, 6, 5, defectYear = 2019)

  val rawSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "account STRING, book_date DATE, valuta_date DATE, party STRING, " +
      "book_text STRING, purpose STRING, amount DOUBLE, balance DOUBLE")

  /** A table's total cell; a year without income sums to NULL, rendered
    * as an empty cell without the numeric class. */
  private val totalRow =
    """<tr class="total"><td>Overall Sum</td><td(?: class="num")?>([^<]*)</td>""".r

  def parseGerman(s: String): Double =
    if (s.isEmpty) 0.0 else s.replace(".", "").replace(",", ".").toDouble

  /** Run `body` with Cli's progress lines kept off stdout. */
  def quiet[T](body: => T): T =
    Console.withOut(new PrintStream(new ByteArrayOutputStream()))(body)
}
