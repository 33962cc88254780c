package graft.sources

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import org.apache.spark.sql.DataFrame

import graft.SparkSpec
import graft.sources.SnapshotStore.StatsPred

/** CONCURRENT COMMITS on every rebasing path: four threads race appends,
  * replayed idempotent appends, merge-on-read layers, predicate deletes
  * and two-table catalog transactions. Each call must land exactly once
  * (replays never), and the final content of every table must equal the
  * SERIAL application of the same commits in the order the protocol
  * published them — linearizability read off the version chain.
  * Budget: about 30 s. */
class CommitRaceSpec extends SparkSpec {
  import spark.implicits._

  private type Row3 = (Long, Int, String)

  private sealed trait Op
  private final case class Append(rows: Seq[Row3]) extends Op
  private final case class AppendOnce(rows: Seq[Row3], txn: String) extends Op
  private final case class Merge(upserts: Seq[Row3], deletes: Seq[Long])
      extends Op
  private final case class Delete(grp: Int) extends Op
  private final case class CatAppend(rows: Seq[Row3]) extends Op
  private final case class CatDelete(grp: Int) extends Op

  private def frame(rows: Seq[Row3]): DataFrame =
    rows.toDF("id", "grp", "tag").coalesce(1)

  private def batch(first: Long, tag: String): Seq[Row3] =
    (first until first + 4).map(i => (i, (i % 4).toInt, tag))

  test("racing commits each land once, in a serializable order") {
    val t = Files.createTempDirectory("race-t").toString
    val cat = Files.createTempDirectory("race-cat").toString
    val initial: Seq[Row3] = (0L until 40L).map(i => (i, (i % 4).toInt, "init"))
    SnapshotStore.commitCreate(frame(initial), t)
    Catalog.commit(cat, Map(
      "c1" -> (frame(initial), Catalog.Overwrite),
      "c2" -> (frame(Nil), Catalog.Overwrite)))

    val threads: Seq[Seq[Op]] = Seq(
      Seq(Append(batch(1000, "a0")), Delete(1), Append(batch(1010, "a1")),
        CatAppend(batch(5000, "k0"))),
      Seq(AppendOnce(batch(2000, "o0"), "o0"), Merge(Seq((3L, 3, "m0"),
        (1020L, 0, "m0")), Seq(4L)), AppendOnce(batch(2010, "o1"), "o1"),
        CatDelete(2)),
      Seq(Merge(Seq((5L, 1, "m1")), Seq(6L, 7L)), Delete(3),
        Append(batch(1030, "a2")), CatAppend(batch(5010, "k1"))),
      Seq(CatAppend(batch(5020, "k2")), AppendOnce(batch(2020, "o2"), "o2"),
        CatAppend(batch(5030, "k3")), CatDelete(0)))

    // every op records the version its commit landed at (table layer or
    // catalog), replays record what the second call returned
    val landed = new java.util.concurrent.ConcurrentLinkedQueue[(Op, Int)]()
    val replays = new java.util.concurrent.ConcurrentLinkedQueue[Option[Int]]()
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(threads.size)
    val futures = threads.map { ops =>
      pool.submit(new java.util.concurrent.Callable[Unit] {
        def call(): Unit = {
          start.await()
          ops.foreach { op =>
            val v = op match {
              case Append(rows) => SnapshotStore.commitAppend(frame(rows), t)
              case AppendOnce(rows, txn) =>
                val v = SnapshotStore.commitAppendOnce(frame(rows), t, txn)
                replays.add(SnapshotStore.commitAppendOnce(frame(rows), t, txn))
                v.get
              case Merge(ups, dels) =>
                val changes = (ups.map { case (i, g, s) =>
                  (i, g, s, 1L, false) } ++ dels.map(i =>
                  (i, 0, "", 1L, true))).toDF("id", "grp", "tag", "ver", "del")
                SnapshotStore.mergeOnRead(spark, t, changes, "id", "ver", "del")
              case Delete(g) =>
                SnapshotStore.deleteWhere(spark, t, StatsPred.Eq("grp", g))
              case CatAppend(rows) => Catalog.commit(cat, Map(
                "c1" -> (frame(rows), Catalog.Append),
                "c2" -> (frame(rows), Catalog.Append)))
              case CatDelete(g) =>
                Catalog.deleteWhere(cat, "c1", StatsPred.Eq("grp", g))
            }
            landed.add((op, v))
          }
        }
      })
    }
    start.countDown()
    try futures.foreach(_.get(240, TimeUnit.SECONDS))
    finally pool.shutdown()

    import scala.jdk.CollectionConverters._
    val all = landed.asScala.toSeq
    assert(all.size === threads.map(_.size).sum)
    assert(replays.asScala.forall(_.isEmpty), "a replayed txn committed")

    // serial model, in the order the version chain published the ops
    def apply(rows: Seq[Row3], op: Op): Seq[Row3] = op match {
      case Append(r)        => rows ++ r
      case AppendOnce(r, _) => rows ++ r
      case CatAppend(r)     => rows ++ r
      case Merge(ups, dels) =>
        val keys = ups.map(_._1).toSet ++ dels
        rows.filterNot(r => keys(r._1)) ++ ups
      case Delete(g)    => rows.filterNot(_._2 == g)
      case CatDelete(g) => rows.filterNot(_._2 == g)
    }
    def content(df: DataFrame): Seq[Row3] =
      df.select("id", "grp", "tag").as[Row3].collect().toSeq.sorted

    val tableOps = all.filter(_._1 match {
      case _: CatAppend | _: CatDelete => false
      case _ => true
    })
    val catOps = all.filterNot(tableOps.contains)
    // exactly once: one distinct, gap-free version per landed call
    assert(tableOps.map(_._2).sorted === (1 to tableOps.size))
    assert(SnapshotStore.versions(t) === (0 to tableOps.size))
    assert(catOps.map(_._2).sorted === (1 to catOps.size))
    assert(Catalog.versions(cat) === (0 to catOps.size))

    val serialT = tableOps.sortBy(_._2).map(_._1).foldLeft(initial)(apply)
    assert(content(SnapshotStore.read(spark, t)) === serialT.sorted)
    val serialC1 = catOps.sortBy(_._2).map(_._1).foldLeft(initial)(apply)
    assert(content(Catalog.readTable(spark, cat, "c1")) === serialC1.sorted)
    // atomicity: at EVERY catalog version c2 holds exactly the batches of
    // the transactions published at or below it
    (0 to catOps.size).foreach { v =>
      val expect = catOps.filter(_._2 <= v).collect {
        case (CatAppend(rows), _) => rows }.flatten
      assert(content(Catalog.readTable(spark, cat, "c2", Some(v))) ===
        expect.sorted, s"catalog v$v")
    }
  }
}
