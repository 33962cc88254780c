package perfbench

import java.nio.file.Path
import java.sql.Date
import java.time.LocalDate

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

import graft.sources.SnapshotStore
import graft.sources.SnapshotStore.StatsPred

/** The table format's own path: write → commit → pruned read → change
  * feed, through `sources.SnapshotStore` on a table of transaction-shaped
  * rows keyed on `fingerprint`.
  *
  * A round creates the table (date-clustered files, a maintained bloom
  * index on `fingerprint`), then runs [[Lifecycle.Cycles]] cycles of an
  * idempotent append (the first cycle's replayed, which must commit
  * nothing), a keyed merge-on-read and a predicate delete. The last cycle
  * then reads the table with every cycle's layers — `fingerprint` point
  * lookups and `book_date` ranges through `readWhere` — and takes a change
  * feed over its own commits. The round ends with `optimize` and `vacuum`.
  * Every result is checked against an in-memory model of the table.
  */
final class Lifecycle extends Workload {
  import Lifecycle._

  final case class Input(dir: Path, seed: Long, base: Int, batch: Int,
      changes: Int, cycles: Int)

  val gated = Map("ingest_p50_s" -> "commit", "query_p50_s" -> "pruned_read")

  def prepare(spark: SparkSession, dir: Path, seed: Long, size: Size): Input = {
    Dirs.delete(dir)
    java.nio.file.Files.createDirectories(dir)
    size match {
      case Size.Full => Input(dir, seed, base = 20000, batch = 2000,
        changes = 600, cycles = Cycles)
      case Size.Small => Input(dir, seed, base = 1000, batch = 100, changes = 30,
        cycles = 1)
    }
  }

  def round(spark: SparkSession, in: Input, rec: Recorder, round: Int): Unit = {
    val root = in.dir.resolve(s"table-$round").toString
    Dirs.delete(in.dir.resolve(s"table-$round"))
    val t = rec.tracer
    val rnd = new Random(in.seed)
    var serial = 0L
    def fresh(n: Int, from: LocalDate, days: Int): Seq[Rec] = (0 until n).map { _ =>
      serial += 1
      Rec(fingerprint(in.seed, serial), accounts(rnd.nextInt(accounts.size)),
        from.plusDays(rnd.nextInt(days).toLong), -(100L + rnd.nextInt(50000)),
        s"party ${rnd.nextInt(500)}", categories(rnd.nextInt(categories.size)))
    }
    // the model: live rows by fingerprint
    val model = scala.collection.mutable.LinkedHashMap.empty[String, Rec]
    val start = LocalDate.of(2022, 1, 1)
    val base = fresh(in.base, start, 730)
    base.foreach(r => model(r.fingerprint) = r)
    rec.op("create") {
      SnapshotStore.commitCreate(frame(spark, base)
        .repartitionByRange(8, col("book_date")), root)
      SnapshotStore.indexBloom(spark, root, "fingerprint", maintain = true)
    }
    var day = start.plusDays(730)
    (1 to in.cycles).foreach { c =>
      val before = model.clone()
      val v0 = SnapshotStore.snapshot(root).get.version

      val batch = fresh(in.batch, day, 7)
      day = day.plusDays(7)
      val appended = rec.op("commit") {
        t.span("sources.SnapshotStore.commit_append") {
          SnapshotStore.commitAppendOnce(frame(spark, batch), root, s"append-$c")
        }
      }
      rec.check(appended.exists(_.isDefined), s"cycle $c: append committed nothing")
      batch.foreach(r => model(r.fingerprint) = r)
      t.count("sink.new_row_bytes", batch.map(_.bytes).sum.toDouble)
      if (c % ReplayEvery == 1) {
        val replay = rec.op("replay") {
          t.span("sources.SnapshotStore.commit_append") {
            SnapshotStore.commitAppendOnce(frame(spark, batch), root, s"append-$c")
          }
        }
        rec.check(replay == Right(None), s"cycle $c: replayed txn committed $replay")
      }

      // keyed upsert: updates and deletes of live keys, plus new keys
      val live = model.keys.toIndexedSeq
      val picked = rnd.shuffle(live).take(in.changes)
      val (dels, ups) = picked.splitAt(in.changes / 6)
      val inserts = fresh(in.changes / 6, day.minusDays(7), 7)
      val updated = ups.map(k => model(k).copy(amountCents = -(1L + rnd.nextInt(90000)),
        category = categories(rnd.nextInt(categories.size))))
      val changeRows = updated.map(r => (r, false)) ++ inserts.map(r => (r, false)) ++
        dels.map(k => (model(k), true))
      rec.op("commit") {
        t.span("sources.SnapshotStore.commit_merge") {
          SnapshotStore.mergeOnReadOnce(spark, root, changes(spark, changeRows, c),
            "fingerprint", "chg_version", "chg_delete", s"merge-$c")
        }
      }
      (updated ++ inserts).foreach(r => model(r.fingerprint) = r)
      dels.foreach(model.remove)
      t.count("sink.new_row_bytes", changeRows.map(_._1.bytes).sum.toDouble)

      // predicate delete of one account's week in the old range
      val dFrom = start.plusDays(rnd.nextInt(700).toLong)
      val acct = accounts(rnd.nextInt(accounts.size))
      val pred = StatsPred.And(StatsPred.Eq("account", acct),
        StatsPred.Between("book_date", Date.valueOf(dFrom), Date.valueOf(dFrom.plusDays(6))))
      rec.op("delete") {
        t.span("sources.SnapshotStore.commit_delete") {
          SnapshotStore.deleteWhere(spark, root, pred)
        }
      }
      model.filterInPlace((_, r) => !matches(pred, r))

      // in the last cycle, on the table with every cycle's layers: pruned
      // reads (point lookups on live keys, date ranges), then a change feed
      // over the cycle's commits
      if (c == in.cycles) {
        val keys = model.keys.toIndexedSeq
        val reads = Seq.fill(PointReads)(StatsPred.Eq("fingerprint",
          keys(rnd.nextInt(keys.size)))) ++ Seq.fill(RangeReads) {
          val lo = start.plusDays(rnd.nextInt(730 + 7 * c).toLong)
          StatsPred.Between("book_date", Date.valueOf(lo), Date.valueOf(lo.plusDays(3)))
        }
        rnd.shuffle(reads).foreach { p =>
          val got = rec.op("pruned_read") {
            val (df, report) = t.span("sources.SnapshotStore.prune") {
              SnapshotStore.readWhere(spark, root, p)
            }
            t.count("sources.SnapshotStore.files_listed", report.filesListed)
            t.count("sources.SnapshotStore.files_opened", report.filesOpened)
            t.count("sources.SnapshotStore.segments_parsed", report.segmentsParsed)
            t.count("sources.SnapshotStore.bloom_skipped", report.bloomSkipped)
            df.collect().map(toRec).toSet
          }
          val want = model.values.filter(matches(p, _)).toSet
          rec.check(got == Right(want), s"readWhere($p) returned " +
            s"${got.map(_.size)} rows, model ${want.size}")
        }

        val v1 = SnapshotStore.snapshot(root).get.version
        val feed = rec.op("change_feed") {
          SnapshotStore.collapseFeed(SnapshotStore.changeFeed(spark, root, v0, v1))
            .collect().map(r => (toRec(r), r.getAs[String]("change"),
              r.getAs[Long]("n_rows"))).toSet
        }
        feed.foreach(f => t.count("sources.SnapshotStore.feed_rows", f.size))
        val now = model.values.toSet
        val was = before.values.toSet
        val want = (now -- was).map(r => (r, "added", 1L)) ++
          (was -- now).map(r => (r, "removed", 1L))
        rec.check(feed == Right(want), s"collapsed change feed v$v0..v$v1 " +
          s"has ${feed.map(_.size)} rows, model diff ${want.size}")
      }
    }

    rec.op("optimize") {
      t.span("sources.SnapshotStore.optimize")(SnapshotStore.optimize(spark, root, 8))
    }
    rec.op("vacuum") {
      t.span("sources.SnapshotStore.vacuum")(SnapshotStore.vacuum(root, 1))
    }
    val last = SnapshotStore.read(spark, root).collect().map(toRec)
    rec.check(last.length == model.size && last.toSet == model.values.toSet,
      s"final read: ${last.length} rows, model ${model.size}")
    Dirs.delete(in.dir.resolve(s"table-$round"))
  }

  def namedMetrics(rec: Recorder, walls: Seq[Double],
      in: Input): Seq[(String, Double, String, Int)] = {
    def p(kind: String, q: Double) = {
      val s = rec.samples(kind)
      (if (q == 0.5) Main.median(s) else quantile(s, q), s.size)
    }
    val metrics = Seq(("commit_p50_s", "commit", 0.5),
      ("commit_p90_s", "commit", 0.9), ("delete_p50_s", "delete", 0.5), ("pruned_read_p50_s", "pruned_read", 0.5),
      ("pruned_read_p90_s", "pruned_read", 0.9),
      ("change_feed_p50_s", "change_feed", 0.5), ("optimize_s", "optimize", 0.5),
      ("vacuum_s", "vacuum", 0.5), ("replay_p50_s", "replay", 0.5))
    metrics.flatMap { case (n, k, q) =>
      val (v, cnt) = p(k, q)
      // a p90 needs at least 100 samples in the run
      if (q > 0.5 && cnt < 100) None else Some((n, v, "s", cnt))
    }
  }
}

object Lifecycle {
  val Cycles = 3
  val ReplayEvery = 2
  val PointReads = 7
  val RangeReads = 3

  final case class Rec(fingerprint: String, account: String, bookDate: LocalDate,
      amountCents: Long, party: String, category: String) {
    def bytes: Int = fingerprint.length + account.length + 10 + 8 +
      party.length + category.length
  }

  val accounts = Seq("common", "giro", "gesa", "extra", "extra-common")
  val categories = Seq("einkaufen", "wohnen::strom", "freizeit", "mobilitaet",
    "gesundheit", "versicherung", "media")

  val schema: StructType = StructType.fromDDL(
    "fingerprint STRING, account STRING, book_date DATE, amount_cents BIGINT, " +
      "party STRING, category STRING")

  def fingerprint(seed: Long, serial: Long): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.digest(s"$seed|$serial".getBytes("UTF-8")).map(b => f"$b%02x").mkString
  }

  private def row(r: Rec): Row = Row(r.fingerprint, r.account,
    Date.valueOf(r.bookDate), r.amountCents, r.party, r.category)

  def frame(spark: SparkSession, rs: Seq[Rec]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rs.map(row), 2), schema)

  /** A changelog for `mergeOnReadOnce`: the rows plus version and
    * tombstone columns. */
  def changes(spark: SparkSession, rs: Seq[(Rec, Boolean)], version: Int): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rs.map { case (r, d) =>
      Row.fromSeq(row(r).toSeq :+ version.toLong :+ d) }, 2),
      schema.add("chg_version", "BIGINT").add("chg_delete", "BOOLEAN"))

  def toRec(r: Row): Rec = Rec(r.getAs[String]("fingerprint"),
    r.getAs[String]("account"), r.getAs[Date]("book_date").toLocalDate,
    r.getAs[Long]("amount_cents"), r.getAs[String]("party"),
    r.getAs[String]("category"))

  def matches(p: StatsPred, r: Rec): Boolean = p match {
    case StatsPred.And(a, b) => matches(a, r) && matches(b, r)
    case StatsPred.Eq("account", v) => r.account == v
    case StatsPred.Eq("fingerprint", v) => r.fingerprint == v
    case StatsPred.Between("book_date", lo: Date, hi: Date) =>
      !r.bookDate.isBefore(lo.toLocalDate) && !r.bookDate.isAfter(hi.toLocalDate)
    case other => sys.error(s"model has no rule for $other")
  }

  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.ceil(q * s.size).toInt - 1))
    }
}
