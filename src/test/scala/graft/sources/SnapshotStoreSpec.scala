package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.SparkSpec

class SnapshotStoreSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(): String = {
    val p = Files.createTempDirectory("snapstore")
    p.toString
  }

  test("overwrite commits round-trip and version monotonically") {
    val root = freshRoot()
    val v1 = SnapshotStore.commitOverwrite(
      Seq((1L, "a"), (2L, "b")).toDF("id", "s"), root)
    assert(v1 === 0)
    val v2 = SnapshotStore.commitOverwrite(
      Seq((3L, "c")).toDF("id", "s"), root)
    assert(v2 === 1)
    // current read sees only v2's content
    assert(SnapshotStore.read(spark, root).as[(Long, String)]
      .collect().toSet === Set((3L, "c")))
    // time travel: v1 still reads in full — overwrite never deleted it
    assert(SnapshotStore.read(spark, root, Some(0)).as[(Long, String)]
      .collect().toSet === Set((1L, "a"), (2L, "b")))
  }

  test("append accumulates; schema mismatch fails loudly") {
    val root = freshRoot()
    SnapshotStore.commitAppend(Seq((1L, "a")).toDF("id", "s"), root)
    SnapshotStore.commitAppend(Seq((2L, "b")).toDF("id", "s"), root)
    assert(SnapshotStore.read(spark, root).as[(Long, String)]
      .collect().toSet === Set((1L, "a"), (2L, "b")))
    val e = intercept[IllegalArgumentException] {
      SnapshotStore.commitAppend(Seq((3, 4)).toDF("x", "y"), root)
    }
    assert(e.getMessage.contains("schema mismatch"))
  }

  test("pinned reader is isolated from concurrent commits AND from " +
      "vacuum of other versions — no torn reads") {
    val root = freshRoot()
    SnapshotStore.commitOverwrite(
      spark.range(100).select(col("id"), lit("v0").as("tag")), root)
    // reader pins snapshot 0 (resolves the manifest + file list NOW)
    val pinned = SnapshotStore.read(spark, root, Some(0))
    // writer replaces the table twice while the reader holds its frame
    SnapshotStore.commitOverwrite(
      spark.range(5).select(col("id"), lit("v1").as("tag")), root)
    SnapshotStore.commitOverwrite(
      spark.range(7).select(col("id"), lit("v2").as("tag")), root)
    // vacuum retains the last 3 versions → v0 survives; the pinned frame
    // must still read complete, original content
    val deleted = SnapshotStore.vacuum(root, keepVersions = 3)
    assert(deleted === 0)
    assert(pinned.count() === 100)
    assert(pinned.select("tag").distinct().as[String].collect()
      .toSeq === Seq("v0"))
    // current reader sees v2
    assert(SnapshotStore.read(spark, root).count() === 7)
  }

  test("vacuum deletes only unreachable files; retained + current " +
      "versions stay readable") {
    val root = freshRoot()
    SnapshotStore.commitOverwrite(spark.range(10).toDF("id"), root)   // v0
    SnapshotStore.commitAppend(spark.range(10, 20).toDF("id"), root)  // v1
    SnapshotStore.commitOverwrite(spark.range(3).toDF("id"), root)    // v2
    val deleted = SnapshotStore.vacuum(root, keepVersions = 1)
    // v0/v1's two data dirs are unreachable from v2 → both deleted
    assert(deleted > 0)
    assert(SnapshotStore.versions(root) === Seq(2))
    assert(SnapshotStore.read(spark, root).count() === 3)
    // the vacuumed versions are gone as versions, not readable as torn data
    intercept[Exception] { SnapshotStore.read(spark, root, Some(0)) }
  }

  test("version race: a writer losing the hard-link publish rebases and " +
      "lands on the next version (appends keep every winner's rows)") {
    val root = freshRoot()
    SnapshotStore.commitAppend(Seq((1L, "w0")).toDF("id", "w"), root)
    // simulate two concurrent appenders by racing real threads; the
    // hard-link publish admits exactly one winner per version, the loser
    // rebases onto the winner's manifest
    val t1 = new Thread(() => {
      SnapshotStore.commitAppend(Seq((2L, "w1")).toDF("id", "w"), root); ()
    })
    val t2 = new Thread(() => {
      SnapshotStore.commitAppend(Seq((3L, "w2")).toDF("id", "w"), root); ()
    })
    t1.start(); t2.start(); t1.join(); t2.join()
    assert(SnapshotStore.versions(root) === Seq(0, 1, 2))
    assert(SnapshotStore.read(spark, root).as[(Long, String)]
      .collect().toSet === Set((1L, "w0"), (2L, "w1"), (3L, "w2")))
  }

  test("commitCreate race: two concurrent creators — exactly one wins " +
      "the v0 link, the loser throws, nothing lands twice") {
    val root = freshRoot()
    val results = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val ts = (0 until 2).map { i =>
      new Thread(() => {
        try {
          SnapshotStore.commitCreate(
            spark.range(i * 100, i * 100 + 50)
              .select(col("id"), lit(s"w$i").as("w")), root)
          results.add(s"win$i")
        } catch {
          case _: IllegalArgumentException => results.add(s"lose$i")
        }
      })
    }
    ts.foreach(_.start()); ts.foreach(_.join())
    import scala.jdk.CollectionConverters._
    val rs = results.asScala.toSeq.sorted
    assert(rs.count(_.startsWith("win")) === 1 &&
      rs.count(_.startsWith("lose")) === 1, rs.toString)
    assert(SnapshotStore.versions(root) === Seq(0))
    assert(SnapshotStore.read(spark, root).count() === 50)
    // the winner's content is coherent (all rows from ONE writer)
    assert(SnapshotStore.read(spark, root).select("w")
      .distinct().count() === 1)
  }

  test("writer scratch (.tmp-) files are never read as snapshots; a " +
      "corrupted COMMITTED manifest fails loudly instead of reading empty") {
    val root = freshRoot()
    SnapshotStore.commitOverwrite(Seq((1L, "a")).toDF("id", "s"), root)
    // a crashed writer's leftover scratch must be invisible
    Files.write(Paths.get(root, "_manifests", ".tmp-crashed"),
      "{garbage".getBytes)
    assert(SnapshotStore.versions(root) === Seq(0))
    assert(SnapshotStore.read(spark, root).count() === 1)
    // corruption of a committed manifest is loud
    Files.write(Paths.get(root, "_manifests", "v0.json"),
      "{not a manifest".getBytes)
    intercept[Exception] { SnapshotStore.snapshot(root) }
  }

  test("empty-table commit (truncation) round-trips through the schema " +
      "carried in the manifest") {
    val root = freshRoot()
    SnapshotStore.commitOverwrite(Seq((1L, "a")).toDF("id", "s"), root)
    SnapshotStore.commitOverwrite(
      Seq.empty[(Long, String)].toDF("id", "s"), root)
    val cur = SnapshotStore.read(spark, root)
    assert(cur.count() === 0)
    assert(cur.schema.fieldNames.toSeq === Seq("id", "s"))
  }

  test("diff: added/removed/unchanged with bag multiplicity; schema " +
      "change fails loudly") {
    val root = freshRoot()
    // v0: a, b, c, c (c twice); v1 appends d and ANOTHER c;
    // v2 overwrite: b, c (one), e
    SnapshotStore.commitOverwrite(
      Seq((1L, "a"), (2L, "b"), (3L, "c"), (3L, "c")).toDF("id", "s"), root)
    SnapshotStore.commitAppend(
      Seq((4L, "d"), (3L, "c")).toDF("id", "s"), root)
    SnapshotStore.commitOverwrite(
      Seq((2L, "b"), (3L, "c"), (5L, "e")).toDF("id", "s"), root)
    def diffSet(from: Int, to: Int) =
      SnapshotStore.diff(spark, root, from, to).collect()
        .map(r => (r.getAs[Long]("id"), r.getAs[String]("s"),
          r.getAs[String]("change"), r.getAs[Long]("n_rows"))).toSet
    // v0 -> v1: only the appended rows appear; c's multiplicity 2 -> 3
    assert(diffSet(0, 1) === Set(
      (4L, "d", "added", 1L), (3L, "c", "added", 1L)))
    // v1 -> v2: a gone, c 3 -> 1 (removed x2), d gone, e new, b unchanged
    assert(diffSet(1, 2) === Set(
      (1L, "a", "removed", 1L), (3L, "c", "removed", 2L),
      (4L, "d", "removed", 1L), (5L, "e", "added", 1L)))
    // reversed direction flips the tags
    assert(diffSet(2, 1).map(_._3) === Set("added", "removed"))
    assert(diffSet(2, 1).count(_._3 == "added") === 3)
    // identical versions diff empty
    assert(SnapshotStore.diff(spark, root, 2, 2).isEmpty)
    // null fields: a row with a null column present in BOTH versions is
    // unchanged (null-safe merge) — a plain equi-join would emit it as
    // both removed and added
    val root3 = freshRoot()
    SnapshotStore.commitOverwrite(
      Seq((1L, Option.empty[String]), (2L, Some("x")))
        .toDF("id", "s"), root3)
    SnapshotStore.commitOverwrite(
      Seq((1L, Option.empty[String]), (3L, Some("y")))
        .toDF("id", "s"), root3)
    val nd = SnapshotStore.diff(spark, root3, 0, 1).collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("change"))).toSet
    assert(nd === Set((2L, "removed"), (3L, "added")),
      s"null-field row must be unchanged, got $nd")
    // schema change across versions is a loud error
    val root2 = freshRoot()
    SnapshotStore.commitOverwrite(Seq((1L, "a")).toDF("id", "s"), root2)
    SnapshotStore.commitOverwrite(Seq(1L).toDF("id"), root2)
    intercept[IllegalArgumentException] {
      SnapshotStore.diff(spark, root2, 0, 1)
    }
  }

  // ----------------------------------------------------- schema evolution

  test("evolve-append widens the CURRENT schema, backfills the new " +
      "column as NULL off old files, and leaves earlier versions pinned " +
      "to their narrow schema") {
    val root = freshRoot()
    SnapshotStore.commitOverwrite(
      Seq((1L, "a"), (2L, "b")).toDF("id", "s"), root)            // v0
    SnapshotStore.commitAppendEvolve(
      Seq((3L, "c", 30.0), (4L, "d", 40.0)).toDF("id", "s", "x"), root) // v1
    // current read: evolved 3-col schema, v0 rows' x backfilled NULL
    val cur = SnapshotStore.read(spark, root)
    assert(cur.schema.fieldNames.toSeq === Seq("id", "s", "x"))
    assert(cur.as[(Long, String, Option[Double])].collect().toSet === Set(
      (1L, "a", None), (2L, "b", None),
      (3L, "c", Some(30.0)), (4L, "d", Some(40.0))))
    // time travel: v0 keeps its own (narrow) schema — evolution never
    // rewrites history
    val v0 = SnapshotStore.read(spark, root, Some(0))
    assert(v0.schema.fieldNames.toSeq === Seq("id", "s"))
    assert(v0.count() === 2)
  }

  test("evolve-append backfills columns the BATCH is missing (the " +
      "reference's migrate semantics) and rejects type changes loudly") {
    val root = freshRoot()
    SnapshotStore.commitOverwrite(
      Seq((1L, "a", 10.0)).toDF("id", "s", "x"), root)
    // batch missing x: written as NULL literals, table schema unchanged
    SnapshotStore.commitAppendEvolve(Seq((2L, "b")).toDF("id", "s"), root)
    val cur = SnapshotStore.read(spark, root)
    assert(cur.schema.fieldNames.toSeq === Seq("id", "s", "x"))
    assert(cur.as[(Long, String, Option[Double])].collect().toSet === Set(
      (1L, "a", Some(10.0)), (2L, "b", None)))
    // type change is NOT evolution
    val e = intercept[IllegalArgumentException] {
      SnapshotStore.commitAppendEvolve(
        Seq((3L, "c", "not a double")).toDF("id", "s", "x"), root)
    }
    assert(e.getMessage.contains("cannot change a column type"))
  }

  test("diff across an evolution: Error policy is loud; Common policy " +
      "aligns on the shared projection so shared-column-equal rows cancel") {
    val root = freshRoot()
    SnapshotStore.commitOverwrite(
      Seq((1L, "a"), (2L, "b")).toDF("id", "s"), root)             // v0
    SnapshotStore.commitAppendEvolve(
      Seq((3L, "c", 30.0)).toDF("id", "s", "x"), root)             // v1
    intercept[Exception] { SnapshotStore.diff(spark, root, 0, 1) }
    val d = SnapshotStore.diff(spark, root, 0, 1,
        SnapshotStore.SchemaChange.Common).collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("change"))).toSet
    // on the (id, s) projection only the appended row differs — the v0
    // rows present in both versions cancel despite the new column
    assert(d === Set((3L, "added")))
  }

  // ------------------------------------------------- optimize (compaction)

  test("optimize rewrites many small files into one with bit-identical " +
      "content; pinned readers are isolated; replaced files become " +
      "vacuum-eligible") {
    val root = freshRoot()
    // many small files: each append lands at least one
    SnapshotStore.commitOverwrite(
      spark.range(0, 40).repartition(4).toDF(), root)              // v0
    SnapshotStore.commitAppend(
      spark.range(40, 80).repartition(4).toDF(), root)             // v1
    val before = SnapshotStore.snapshot(root).get.files
    assert(before.size >= 8)
    val pinned = SnapshotStore.read(spark, root, Some(1))
    val v2 = SnapshotStore.optimize(spark, root, targetFiles = 1)
    assert(v2 === 2)
    val after = SnapshotStore.snapshot(root).get
    assert(after.files.size === 1)
    assert(after.schemaDdl === SnapshotStore.snapshot(root, Some(1)).get
      .schemaDdl) // compaction never changes the schema
    // content-hash invariance: optimized snapshot == pre-optimize content
    assert(SnapshotStore.read(spark, root).as[Long].collect().sorted
      .toSeq === (0L until 80L))
    // the endpoint diff across the compaction is EMPTY — same bag of rows
    assert(SnapshotStore.diff(spark, root, 1, 2).isEmpty)
    // pinned reader still sees its own files
    assert(pinned.count() === 80)
    // vacuum to current only: the small files are now unreachable
    val deleted = SnapshotStore.vacuum(root, keepVersions = 1)
    assert(deleted >= 8)
    assert(SnapshotStore.read(spark, root).count() === 80)
  }

  test("optimize with z-order clustering keeps content bit-identical " +
      "(the OPTIMIZE ZORDER BY action)") {
    val root = freshRoot()
    SnapshotStore.commitOverwrite(
      spark.range(0, 100).repartition(5)
        .selectExpr("id", "CAST(id % 7 AS BIGINT) AS k"), root)
    SnapshotStore.optimize(spark, root, targetFiles = 2,
      zorderBy = Seq("id", "k"))
    val after = SnapshotStore.snapshot(root).get
    assert(after.files.size <= 2)
    // zkey is layout-only — it must NOT leak into the table schema
    val cur = SnapshotStore.read(spark, root)
    assert(cur.schema.fieldNames.toSeq === Seq("id", "k"))
    assert(cur.as[(Long, Long)].collect().toSet ===
      (0L until 100L).map(i => (i, i % 7)).toSet)
    assert(SnapshotStore.diff(spark, root, 0, 1).isEmpty)
  }

  test("optimize restarts (never publishes a stale rewrite) when a " +
      "commit interleaves — the read-modify-write race") {
    val root = freshRoot()
    SnapshotStore.commitOverwrite(
      spark.range(0, 10).toDF(), root)                             // v0
    // interleave a commit by racing a thread doing appends against the
    // optimize; whatever the interleaving, the optimized snapshot must
    // contain every committed row at its version
    val t = new Thread(() => {
      SnapshotStore.commitAppend(spark.range(10, 20).toDF(), root); ()
    })
    t.start()
    SnapshotStore.optimize(spark, root, targetFiles = 1)
    t.join()
    val head = SnapshotStore.versions(root).last
    val content = SnapshotStore.read(spark, root, Some(head))
      .as[Long].collect().toSet
    // the head snapshot reflects a serial order of {append, optimize}:
    // either the optimize came last (all 20 rows, 1..n files) or the
    // append did (all 20 rows) — in EVERY case no committed row is lost
    assert(content === (0L until 20L).toSet)
  }

  // ------------------------------------------------------- change feed

  test("changeFeed tags each commit's diff with its version and " +
      "collapseFeed telescopes back to the endpoint diff") {
    val root = freshRoot()
    SnapshotStore.commitOverwrite(
      Seq((1L, "a"), (2L, "b")).toDF("id", "s"), root)             // v0
    SnapshotStore.commitAppend(Seq((3L, "c")).toDF("id", "s"), root) // v1
    SnapshotStore.commitOverwrite(
      Seq((2L, "b"), (4L, "d")).toDF("id", "s"), root)             // v2
    val feed = SnapshotStore.changeFeed(spark, root, 0, 2)
    val rows = feed.collect().map(r => (r.getAs[Long]("id"),
      r.getAs[String]("change"), r.getAs[Int]("version"))).toSet
    assert(rows === Set(
      (3L, "added", 1),
      (1L, "removed", 2), (3L, "removed", 2), (4L, "added", 2)))
    // telescoping: collapse(feed) == diff(0, 2) — the row added at v1
    // and removed at v2 cancels; 2L unchanged throughout never appears
    val collapsed = SnapshotStore.collapseFeed(feed).collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("change"),
        r.getAs[Long]("n_rows"))).toSet
    val endpoint = SnapshotStore.diff(spark, root, 0, 2).collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("change"),
        r.getAs[Long]("n_rows"))).toSet
    assert(collapsed === endpoint)
    assert(endpoint === Set((1L, "removed", 1L), (4L, "added", 1L)))
  }

  // -------------------------------------------------- idempotent commits

  test("commitAppendOnce: a replayed txn id is a no-op (exactly-once " +
      "for streaming sinks); distinct txns land as distinct versions") {
    val root = freshRoot()
    assert(SnapshotStore.commitAppendOnce(
      Seq((1L, "a")).toDF("id", "s"), root, "sink:0") === Some(0))
    // replay of the same micro-batch: deduplicated through the manifest
    assert(SnapshotStore.commitAppendOnce(
      Seq((1L, "a")).toDF("id", "s"), root, "sink:0") === None)
    assert(SnapshotStore.commitAppendOnce(
      Seq((2L, "b")).toDF("id", "s"), root, "sink:1") === Some(1))
    assert(SnapshotStore.read(spark, root).count() === 2)
    assert(SnapshotStore.versions(root) === Seq(0, 1))
  }

  // ---------------------------------------------------------- merge

  test("merge: latest-wins upserts/inserts/tombstones commit as a new " +
      "version whose content equals applyChangelog; v0 stays pinned; " +
      "the merged version's stats serve readWhere") {
    val root = freshRoot()
    val base = Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L))
      .toDF("k", "s", "v")
    SnapshotStore.commitOverwrite(base, root) // v0
    val changes = Seq(
      (1L, 1L, false, "a1", 11L),
      (1L, 2L, false, "a2", 12L),  // later version wins
      (2L, 1L, true, "x", 0L),     // tombstone deletes k=2
      (9L, 1L, false, "i", 90L))   // insert
      .toDF("k", "ver", "del", "s", "v")
    val v = SnapshotStore.merge(spark, root, changes,
      key = "k", versionCol = "ver", deleteCol = "del")
    assert(v === 1)
    val got = SnapshotStore.read(spark, root).as[(Long, String, Long)]
      .collect().toSet
    assert(got === Set((1L, "a2", 12L), (3L, "c", 30L), (9L, "i", 90L)))
    // the operator-level fold agrees bit for bit
    val viaOp = graft.operators.Temporal.applyChangelog(base, changes,
      "k", "ver", "del").as[(Long, String, Long)].collect().toSet
    assert(got === viaOp)
    // time travel: the pre-merge snapshot is untouched
    assert(SnapshotStore.read(spark, root, Some(0))
      .as[(Long, String, Long)].collect().toSet ===
      Set((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L)))
    // the merged version carries fresh footer stats
    val m = SnapshotStore.snapshot(root).get
    assert(m.statsFile.nonEmpty)
    val (df, rep) = SnapshotStore.readWhere(spark, root,
      SnapshotStore.StatsPred.Eq("k", 9L))
    assert(df.count() === 1)
    assert(rep.filesListed >= rep.filesOpened)
    // merging into a table with no commits is a loud error
    val empty = freshRoot()
    val e = intercept[RuntimeException] {
      SnapshotStore.merge(spark, empty, changes, "k", "ver", "del")
    }
    assert(e.getMessage.contains("no commits"))
  }

  // ------------------------------------------------------ merge-on-read

  private val morBase = Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L))
  private val morChanges = Seq(
    (1L, 1L, false, "a1", 11L),
    (1L, 2L, false, "a2", 12L),  // later version wins
    (2L, 1L, true, "x", 0L),     // tombstone deletes k=2
    (9L, 1L, false, "i", 90L))   // insert

  test("mergeOnRead equals the copy-on-write merge bit for bit, NEVER " +
      "touches a base file, and time travel still works") {
    val rootMor = freshRoot(); val rootCow = freshRoot()
    val base = morBase.toDF("k", "s", "v")
    val changes = morChanges.toDF("k", "ver", "del", "s", "v")
    SnapshotStore.commitOverwrite(base, rootMor)
    SnapshotStore.commitOverwrite(base, rootCow)
    val filesBefore = SnapshotStore.snapshot(rootMor).get.files
    assert(SnapshotStore.mergeOnRead(spark, rootMor, changes,
      "k", "ver", "del") === 1)
    SnapshotStore.merge(spark, rootCow, changes, "k", "ver", "del")
    val got = SnapshotStore.read(spark, rootMor)
      .as[(Long, String, Long)].collect().toSet
    val cow = SnapshotStore.read(spark, rootCow)
      .as[(Long, String, Long)].collect().toSet
    assert(got === cow)
    assert(got === Set((1L, "a2", 12L), (3L, "c", 30L), (9L, "i", 90L)))
    // O(changes) evidence: the base files are the SAME paths, untouched
    val after = SnapshotStore.snapshot(rootMor).get
    assert(after.files === filesBefore)
    assert(after.layers.size === 1 && after.layers.head.key === "k")
    // codec round-trip with layers
    assert(SnapshotStore.parse(SnapshotStore.render(after)) === after)
    // time travel: v0 pre-merge
    assert(SnapshotStore.read(spark, rootMor, Some(0))
      .as[(Long, String, Long)].collect().toSet === morBase.toSet)
  }

  test("layers accrete in order (update-then-delete, delete-then-" +
      "reinsert), appends on a layered table are NOT suppressed by " +
      "older deletes, and readWhere equals read().filter") {
    val root = freshRoot()
    SnapshotStore.commitOverwrite(morBase.toDF("k", "s", "v"), root) // v0
    SnapshotStore.mergeOnRead(spark, root,
      morChanges.toDF("k", "ver", "del", "s", "v"),
      "k", "ver", "del")                                             // v1
    // layer 2: delete k=1 (which layer 1 updated), re-insert k=2
    // (which layer 1 deleted), update k=9
    SnapshotStore.mergeOnRead(spark, root, Seq(
      (1L, 3L, true, "x", 0L),
      (2L, 3L, false, "b2", 21L),
      (9L, 3L, false, "i2", 91L)).toDF("k", "ver", "del", "s", "v"),
      "k", "ver", "del")                                             // v2
    val expect2 = Set((2L, "b2", 21L), (3L, "c", 30L), (9L, "i2", 91L))
    assert(SnapshotStore.read(spark, root).as[(Long, String, Long)]
      .collect().toSet === expect2)
    // append a row whose key an OLDER layer deleted: it must survive
    SnapshotStore.commitAppend(Seq((1L, "back", 100L))
      .toDF("k", "s", "v"), root)                                    // v3
    val expect3 = expect2 + ((1L, "back", 100L))
    assert(SnapshotStore.read(spark, root).as[(Long, String, Long)]
      .collect().toSet === expect3)
    val m = SnapshotStore.snapshot(root).get
    assert(m.layers.size === 3 && m.layers.last.key === "")
    // readWhere ≡ read().filter under layers, for predicates that both
    // hit and miss the suppressed/resurrected keys
    import SnapshotStore.StatsPred.{Le, Eq, Ge, IsNotNull}
    Seq(Le("k", 2L), Eq("k", 1L), Ge("v", 30L), IsNotNull("s"))
      .foreach { p =>
        val (got, _) = SnapshotStore.readWhere(spark, root, p)
        val want = SnapshotStore.read(spark, root)
          .filter(SnapshotStore.predColumn(p))
        assert(got.collect().toSet === want.collect().toSet, p.toString)
      }
  }

  test("optimize folds merge-on-read layers back into plain base files " +
      "with identical content; vacuum then sweeps the layer files; " +
      "segment ops refuse layered tables loudly") {
    val root = freshRoot()
    SnapshotStore.commitOverwrite(morBase.toDF("k", "s", "v"), root)
    SnapshotStore.mergeOnRead(spark, root,
      morChanges.toDF("k", "ver", "del", "s", "v"), "k", "ver", "del")
    val layerFiles = SnapshotStore.snapshot(root).get.layers.head.files
    assert(layerFiles.nonEmpty)
    // segment ops refuse while layers exist
    val e1 = intercept[IllegalArgumentException] {
      SnapshotStore.appendSegment(morBase.toDF("k", "s", "v"), root)
    }
    assert(e1.getMessage.contains("merge-on-read"))
    val e2 = intercept[IllegalArgumentException] {
      SnapshotStore.rewriteManifests(root, 1)
    }
    assert(e2.getMessage.contains("merge-on-read"))
    val want = SnapshotStore.read(spark, root)
      .as[(Long, String, Long)].collect().toSet
    SnapshotStore.optimize(spark, root, targetFiles = 1)
    val opt = SnapshotStore.snapshot(root).get
    assert(opt.layers.isEmpty && opt.segments.isEmpty)
    assert(SnapshotStore.read(spark, root).as[(Long, String, Long)]
      .collect().toSet === want)
    // layer files still live while the merge version is retained...
    SnapshotStore.vacuum(root, keepVersions = 2)
    layerFiles.foreach(f =>
      assert(Files.exists(Paths.get(root, f)), s"retained layer swept: $f"))
    // ...and swept once it ages out
    SnapshotStore.vacuum(root, keepVersions = 1)
    layerFiles.foreach(f =>
      assert(!Files.exists(Paths.get(root, f)), s"aged layer kept: $f"))
    assert(SnapshotStore.read(spark, root).as[(Long, String, Long)]
      .collect().toSet === want)
  }

  test("schema evolution on a layered table lands as an add-only layer; " +
      "old layer files backfill the new column as NULL") {
    val root = freshRoot()
    SnapshotStore.commitOverwrite(morBase.toDF("k", "s", "v"), root)
    SnapshotStore.mergeOnRead(spark, root,
      morChanges.toDF("k", "ver", "del", "s", "v"), "k", "ver", "del")
    SnapshotStore.commitAppendEvolve(
      Seq((50L, "e", 500L, "tagged")).toDF("k", "s", "v", "tag"), root)
    val cur = SnapshotStore.read(spark, root)
    assert(cur.columns.toSeq === Seq("k", "s", "v", "tag"))
    val got = cur.as[(Long, String, Long, Option[String])]
      .collect().toSet
    assert(got === Set(
      (1L, "a2", 12L, None), (3L, "c", 30L, None), (9L, "i", 90L, None),
      (50L, "e", 500L, Some("tagged"))))
    assert(SnapshotStore.snapshot(root).get.layers.size === 2)
  }

  // ------------------------------------------- stats + file skipping

  import SnapshotStore.StatsPred._

  test("readWhere equals read().filter for range/eq/in/null predicates " +
      "and SKIPS files whose stats exclude the range") {
    val root = freshRoot()
    // three appends with disjoint id ranges -> >= 3 files with disjoint
    // per-file min/max
    SnapshotStore.commitOverwrite(
      spark.range(0, 100).select(col("id"), (col("id") % 7).as("v"))
        .coalesce(1), root)
    SnapshotStore.commitAppend(
      spark.range(100, 200).select(col("id"), (col("id") % 7).as("v"))
        .coalesce(1), root)
    SnapshotStore.commitAppend(
      spark.range(200, 300).select(col("id"), (col("id") % 7).as("v"))
        .coalesce(1), root)
    val m = SnapshotStore.snapshot(root).get
    assert(m.statsFile.nonEmpty)
    assert(SnapshotStore.fileStats(root, m).nonEmpty)
    val preds = Seq(
      Between("id", 120L, 150L),
      Eq("id", 5L),
      In("id", Seq(5L, 205L)),
      Lt("id", 40L), Ge("id", 260L),
      And(Ge("id", 100L), Lt("id", 130L)),
      Or(Lt("id", 10L), Ge("id", 290L)),
      IsNotNull("v"), IsNull("v"))
    preds.foreach { p =>
      val (got, rep) = SnapshotStore.readWhere(spark, root, p)
      val want = SnapshotStore.read(spark, root)
        .filter(SnapshotStore.predColumn(p))
      assert(got.collect().toSet === want.collect().toSet, p.toString)
      assert(rep.filesListed === m.files.size)
    }
    // the single-range predicates must actually skip
    val (_, r1) = SnapshotStore.readWhere(spark, root,
      Between("id", 120L, 150L))
    assert(r1.filesOpened < r1.filesListed, r1.toString)
    val (_, r2) = SnapshotStore.readWhere(spark, root, Eq("id", 5L))
    assert(r2.filesOpened === 1, r2.toString)
  }

  test("stats survive OPTIMIZE and schema EVOLUTION; a column added by " +
      "evolution has no stats on old files and is never skipped " +
      "wrongly; an all-null file skips comparisons but not IsNull") {
    val root = freshRoot()
    SnapshotStore.commitOverwrite(
      spark.range(0, 50).select(col("id")).coalesce(1), root)   // v0
    // evolution adds t: old file has NO stats entry for t
    SnapshotStore.commitAppendEvolve(
      spark.range(50, 100).select(col("id"), lit("x").as("t"))
        .coalesce(1), root)                                      // v1
    // an ALL-NULL t file (typed null column)
    SnapshotStore.commitAppend(
      spark.range(100, 150).select(col("id"),
        lit(null).cast("string").as("t")).coalesce(1), root)     // v2
    // Eq on the evolved column: the v0 file lacks t stats -> MUST open
    // (its rows backfill NULL and the residual filter drops them); the
    // all-null file's stats PROVE no match -> skipped
    val (got, rep) = SnapshotStore.readWhere(spark, root, Eq("t", "x"))
    assert(got.count() === 50)
    assert(rep.filesOpened < rep.filesListed, rep.toString)
    // IsNull must KEEP both the all-null file and the backfilled v0 file
    val (gotNull, _) = SnapshotStore.readWhere(spark, root, IsNull("t"))
    assert(gotNull.count() === 100)
    // IsNotNull skips the all-null file, keeps the no-stats v0 file
    val (gotNn, repNn) = SnapshotStore.readWhere(spark, root,
      IsNotNull("t"))
    assert(gotNn.count() === 50)
    assert(repNn.filesOpened < repNn.filesListed, repNn.toString)
    // OPTIMIZE: fresh stats for the rewritten layout, content identical,
    // readWhere still exact (round-robin compaction spreads every range
    // over every file, so no skip is claimed here — the z-ordered
    // skip-after-optimize shape is pinned by the q120 gate on lineitem)
    SnapshotStore.optimize(spark, root, targetFiles = 4)
    val mOpt = SnapshotStore.snapshot(root).get
    assert(mOpt.statsFile.nonEmpty)
    assert(SnapshotStore.fileStats(root, mOpt).size === mOpt.files.size)
    val (gotOpt, repOpt) = SnapshotStore.readWhere(spark, root,
      Between("id", 0L, 20L))
    assert(gotOpt.count() === 21)
    assert(repOpt.filesListed === mOpt.files.size)
  }

  test("vacuum sweeps stats sidecars of dropped versions and keeps the " +
      "retained manifests' sidecars readable") {
    val root = freshRoot()
    SnapshotStore.commitOverwrite(spark.range(10).toDF("id"), root)
    SnapshotStore.commitOverwrite(spark.range(20).toDF("id"), root)
    SnapshotStore.commitOverwrite(spark.range(30).toDF("id"), root)
    SnapshotStore.vacuum(root, keepVersions = 2)
    val statsFiles = Files.list(Paths.get(root, "_manifests"))
      .iterator().asInstanceOf[java.util.Iterator[java.nio.file.Path]]
    val names = scala.collection.mutable.Buffer.empty[String]
    while (statsFiles.hasNext) {
      val n = statsFiles.next().getFileName.toString
      if (n.startsWith("stats-")) names += n
    }
    // exactly the two retained versions' sidecars remain
    assert(names.size === 2, names.toString)
    val m = SnapshotStore.snapshot(root).get
    assert(SnapshotStore.fileStats(root, m).nonEmpty)
    // and skipping still works post-vacuum
    val (df, rep) = SnapshotStore.readWhere(spark, root, Lt("id", 5L))
    assert(df.count() === 5)
    assert(rep.filesListed >= rep.filesOpened)
  }

  test("vacuum refuses a root with zero committed versions (a catalog-" +
      "managed table dir) instead of deleting every data file") {
    val root = freshRoot()
    // a catalog-managed table: staged manifests only, no v<N>.json
    Catalog.commit(root, Map(
      "t" -> ((spark.range(10).toDF("id"), Catalog.Overwrite))))
    val tableDir = Paths.get(root, "t").toString
    assert(SnapshotStore.versions(tableDir).isEmpty)
    val e = intercept[IllegalArgumentException] {
      SnapshotStore.vacuum(tableDir)
    }
    assert(e.getMessage.contains("no committed versions"))
    // the catalog table is untouched and still reads in full
    assert(Catalog.readTable(spark, root, "t").count() === 10)
  }

  test("vacuum treats staged-manifest-referenced files as live: a " +
      "catalog publish unit survives a table-layer vacuum") {
    val root = freshRoot()
    SnapshotStore.commitOverwrite(spark.range(10).toDF("id"), root)  // v0
    val v0files = SnapshotStore.snapshot(root, Some(0)).get.files
    SnapshotStore.commitOverwrite(spark.range(5).toDF("id"), root)   // v1
    // an in-flight catalog transaction stages a manifest referencing
    // v0's files (e.g. a rebase target) — those files must stay live
    // even when the version walk alone would drop them
    val staged = SnapshotStore.Manifest(99, 0, "id BIGINT", v0files)
    Files.write(Paths.get(root, "_manifests",
      s"staged-${java.util.UUID.randomUUID()}.json"),
      SnapshotStore.render(staged).getBytes)
    SnapshotStore.vacuum(root, keepVersions = 1)
    // every staged-referenced file is still on disk and readable
    v0files.foreach { f =>
      assert(Files.exists(Paths.get(root, f)), s"staged-live file swept: $f")
    }
    assert(spark.read.parquet(
      v0files.map(f => Paths.get(root, f).toString): _*).count() === 10)
  }

  // --------------------------------------- manifest-list (segment) tier

  private def segSlice(lo: Long, hi: Long, nFiles: Int) =
    spark.range(lo, hi).select(col("id"), (col("id") % 7).as("v"))
      .repartition(nFiles)

  test("appendSegment: commits reuse base segments BY REFERENCE (no " +
      "metadata rewrite), read back complete, codec round-trips") {
    val root = freshRoot()
    SnapshotStore.appendSegment(segSlice(0, 100, 3), root)     // v0
    SnapshotStore.appendSegment(segSlice(100, 200, 3), root)   // v1
    SnapshotStore.appendSegment(segSlice(200, 300, 3), root)   // v2
    val m1 = SnapshotStore.snapshot(root, Some(1)).get
    val m2 = SnapshotStore.snapshot(root, Some(2)).get
    // segment reuse across appends: v2's first two segments ARE v1's
    assert(m2.segments.size === 3 && m1.segments.size === 2)
    assert(m2.segments.take(2) === m1.segments)
    assert(m2.files.isEmpty) // all files live in segments
    // complete read across all segments
    assert(SnapshotStore.read(spark, root).count() === 300)
    // codec round-trip including the summary stats
    val back = SnapshotStore.parse(SnapshotStore.render(m2))
    assert(back === m2)
    // summaries carry real ranges for the clustered id column
    m2.segments.foreach { ref =>
      assert(ref.cols.contains("id") && ref.cols("id").min.isDefined,
        ref.toString)
    }
  }

  test("segmented readWhere: equals read().filter, skips whole " +
      "segments UNPARSED, opens O(selectivity) files") {
    val root = freshRoot()
    (0 until 10).foreach(i =>
      SnapshotStore.appendSegment(segSlice(i * 100L, i * 100L + 100, 4),
        root))
    val preds = Seq(
      Between("id", 120L, 180L),
      Eq("id", 555L),
      And(Ge("id", 300L), Lt("id", 420L)),
      Or(Lt("id", 50L), Ge("id", 950L)),
      IsNotNull("v"), IsNull("v"))
    preds.foreach { p =>
      val (got, rep) = SnapshotStore.readWhere(spark, root, p)
      val want = SnapshotStore.read(spark, root)
        .filter(SnapshotStore.predColumn(p))
      assert(got.collect().toSet === want.collect().toSet, p.toString)
      assert(rep.filesListed === 40 && rep.segmentsListed === 10,
        rep.toString)
    }
    // a one-slice range parses ONE segment and opens only its files
    val (_, r) = SnapshotStore.readWhere(spark, root,
      Between("id", 120L, 180L))
    assert(r.segmentsParsed === 1, r.toString)
    assert(r.filesOpened <= 4, r.toString)
    // IsNull finds nothing but must not skip wrongly: v is never null,
    // and the summaries know it (nulls=0) — zero segments parsed
    val (gotNull, repNull) = SnapshotStore.readWhere(spark, root,
      IsNull("v"))
    assert(gotNull.count() === 0)
    assert(repNull.segmentsParsed === 0, repNull.toString)
  }

  test("rewriteManifests is METADATA-ONLY: same data files, identical " +
      "content, fewer segments, pruning intact; vacuum sweeps the old " +
      "segment files once their versions age out") {
    val root = freshRoot()
    (0 until 8).foreach(i =>
      SnapshotStore.appendSegment(segSlice(i * 50L, i * 50L + 50, 2), root))
    val before = SnapshotStore.snapshot(root).get
    val filesBefore = SnapshotStore.allFiles(root, before).sorted
    val v = SnapshotStore.rewriteManifests(root, targetSegments = 2)
    assert(v === 8)
    val after = SnapshotStore.snapshot(root).get
    assert(after.segments.size === 2)
    // metadata-only: the data files are EXACTLY the same paths
    assert(SnapshotStore.allFiles(root, after).sorted === filesBefore)
    // content identical
    assert(SnapshotStore.read(spark, root).as[(Long, Long)]
      .collect().sorted === (0L until 400L).map(i => (i, i % 7)).sorted)
    // pruning still works through the rewritten summaries
    val (got, rep) = SnapshotStore.readWhere(spark, root,
      Between("id", 10L, 40L))
    assert(got.count() === 31)
    assert(rep.segmentsParsed === 1 && rep.segmentsListed === 2,
      rep.toString)
    // old segment files are unreferenced once only the rewrite remains
    SnapshotStore.vacuum(root, keepVersions = 1)
    val segsOnDisk = {
      val it = Files.list(Paths.get(root, "_manifests"))
      try {
        val i = it.iterator().asInstanceOf[java.util.Iterator[java.nio.file.Path]]
        val b = Seq.newBuilder[String]
        while (i.hasNext) {
          val n = i.next().getFileName.toString
          if (n.startsWith("seg-")) b += n
        }
        b.result()
      } finally it.close()
    }
    assert(segsOnDisk.size === 2, segsOnDisk.toString)
    assert(SnapshotStore.read(spark, root).count() === 400)
    // data files all survived (metadata-only rewrite deletes no data)
    filesBefore.foreach(f =>
      assert(Files.exists(Paths.get(root, f)), s"data file swept: $f"))
  }

  test("segmented tables compose with the inline paths: plain append, " +
      "idempotent append, schema evolution, optimize all carry or " +
      "collapse segments correctly") {
    val root = freshRoot()
    SnapshotStore.appendSegment(segSlice(0, 100, 2), root)         // v0
    // plain inline append carries the segment by reference
    SnapshotStore.commitAppend(
      spark.range(100, 150).select(col("id"), (col("id") % 7).as("v")),
      root)                                                        // v1
    assert(SnapshotStore.snapshot(root).get.segments.size === 1)
    assert(SnapshotStore.read(spark, root).count() === 150)
    // idempotent append: first lands, replay no-ops, segments intact
    assert(SnapshotStore.commitAppendOnce(
      spark.range(150, 160).select(col("id"), (col("id") % 7).as("v")),
      root, txn = "seg-batch-1").contains(2))
    assert(SnapshotStore.commitAppendOnce(
      spark.range(150, 160).select(col("id"), (col("id") % 7).as("v")),
      root, txn = "seg-batch-1").isEmpty)
    assert(SnapshotStore.read(spark, root).count() === 160)
    // evolution widens the schema; old segment files backfill NULL
    SnapshotStore.commitAppendEvolve(
      spark.range(160, 170).select(col("id"), (col("id") % 7).as("v"),
        lit("new").as("tag")), root)                               // v3
    val cur = SnapshotStore.read(spark, root)
    assert(cur.count() === 170)
    assert(cur.filter(col("tag").isNull).count() === 160)
    // optimize collapses everything back to inline files
    SnapshotStore.optimize(spark, root, targetFiles = 1)
    val opt = SnapshotStore.snapshot(root).get
    assert(opt.segments.isEmpty && opt.files.size === 1)
    assert(SnapshotStore.read(spark, root).count() === 170)
  }

  // ----------------------------------------------- file-level bloom index

  test("bloom index: equality reads skip files the min/max tier cannot, " +
      "equal read().filter exactly, and an absent key opens zero files") {
    val root = freshRoot()
    // clustered on `grp`, probed on `id`: every file's id range is the
    // full span (id % pattern), so stats alone can never skip an id probe
    (0 until 4).foreach { g =>
      SnapshotStore.commitAppend(
        spark.range(0, 400).filter(col("id") % 4 === g)
          .select(col("id"), lit(g).as("grp")).coalesce(1), root)
    }
    val v = SnapshotStore.indexBloom(spark, root, "id", logBits = 12)
    assert(v === 4)
    val m = SnapshotStore.snapshot(root).get
    assert(m.blooms.size === 1 && m.blooms.head.column === "id")
    // manifest codec round-trips the index ref
    assert(SnapshotStore.parse(SnapshotStore.render(m)) === m)
    // present key: exactly the one file holding id=42 (mod-4 slice 2)
    val (hit, rep) = SnapshotStore.readWhere(spark, root,
      SnapshotStore.StatsPred.Eq("id", 42L))
    assert(hit.as[(Long, Int)].collect().toSeq === Seq((42L, 2)))
    assert(rep.filesOpened === 1 && rep.filesListed === 4, rep.toString)
    // absent key: bloom rules out every file (false positives possible
    // but vanishing at 4096 bits over 100 ids; the content check is the
    // real invariant)
    val (miss, repM) = SnapshotStore.readWhere(spark, root,
      SnapshotStore.StatsPred.Eq("id", 9999L))
    assert(miss.count() === 0)
    assert(repM.filesOpened <= 1, repM.toString)
    // IN prunes to the union of its members' files; OR of equalities is
    // conservatively NOT bloom-pruned but stays exact
    val (inDf, repIn) = SnapshotStore.readWhere(spark, root,
      SnapshotStore.StatsPred.In("id", Seq(10L, 11L)))
    assert(inDf.count() === 2 && repIn.filesOpened <= 2, repIn.toString)
    val orPred = SnapshotStore.StatsPred.Or(
      SnapshotStore.StatsPred.Eq("id", 10L),
      SnapshotStore.StatsPred.Eq("id", 11L))
    val (orDf, _) = SnapshotStore.readWhere(spark, root, orPred)
    assert(orDf.count() === 2)
  }

  test("bloom index: later appends stay conservative, re-indexing " +
      "replaces the column's ref, vacuum sweeps dead sidecars, " +
      "overwrite drops the index") {
    val root = freshRoot()
    SnapshotStore.commitAppend(
      spark.range(0, 100).select(col("id"), lit("a").as("s"))
        .coalesce(1), root)                                        // v0
    SnapshotStore.indexBloom(spark, root, "id")                    // v1
    // an appended file is unindexed -> every Eq must open it (absent
    // from the sidecar = conservative), so the new row IS found
    SnapshotStore.commitAppend(
      spark.range(1000, 1001).select(col("id"), lit("b").as("s"))
        .coalesce(1), root)                                        // v2
    val (got, rep) = SnapshotStore.readWhere(spark, root,
      SnapshotStore.StatsPred.Eq("id", 1000L))
    assert(got.count() === 1)
    // stats already skip the old file here (disjoint id ranges); the
    // invariant under test is the new file was not bloom-skipped
    assert(rep.filesOpened >= 1)
    // re-index: ONE live ref per column, old sidecar becomes dead
    val before = SnapshotStore.snapshot(root).get.blooms.head.file
    SnapshotStore.indexBloom(spark, root, "id")                    // v3
    val after = SnapshotStore.snapshot(root).get.blooms
    assert(after.size === 1 && after.head.file != before)
    // now probing 1000 through the fresh index skips the v0 file AND
    // finds the row
    val (got2, rep2) = SnapshotStore.readWhere(spark, root,
      SnapshotStore.StatsPred.Eq("id", 1000L))
    assert(got2.count() === 1 && rep2.filesOpened === 1, rep2.toString)
    // vacuum (keep current only) sweeps the superseded sidecar
    SnapshotStore.vacuum(root, keepVersions = 1)
    val blooms = java.nio.file.Files.list(
      java.nio.file.Paths.get(root, "_manifests"))
    val names = try {
      val it = blooms.iterator()
      var b = List.empty[String]
      while (it.hasNext) b ::= it.next().getFileName.toString
      b
    } finally blooms.close()
    assert(names.count(n => n.startsWith("bloom-")) === 1)
    // an overwrite replaces the file set -> the index drops
    SnapshotStore.commitOverwrite(
      spark.range(0, 5).select(col("id"), lit("c").as("s")), root)
    assert(SnapshotStore.snapshot(root).get.blooms.isEmpty)
    // string-typed probe: driver hash must equal the executor hash
    val root2 = freshRoot()
    (0 until 3).foreach { g =>
      SnapshotStore.commitAppend(
        spark.range(0, 90).filter(col("id") % 3 === g)
          .select(concat(lit("k"), col("id")).as("key"), col("id"))
          .coalesce(1), root2)
    }
    SnapshotStore.indexBloom(spark, root2, "key")
    val (sGot, sRep) = SnapshotStore.readWhere(spark, root2,
      SnapshotStore.StatsPred.Eq("key", "k77"))
    assert(sGot.as[(String, Long)].collect().toSeq === Seq(("k77", 77L)))
    assert(sRep.filesOpened === 1, sRep.toString)
  }

  test("optimizeIncremental: no-op on a disjoint layout, rewrites only " +
      "the overlap group after an append, preserves layers, refuses a " +
      "spec-less table") {
    import SnapshotStore.StatsPred._
    val root = freshRoot()
    SnapshotStore.commitOverwrite(
      spark.range(0, 800).select(col("id"), (col("id") % 7).as("v")), root)
    // no spec recorded yet -> loud refusal
    val e = intercept[IllegalArgumentException] {
      SnapshotStore.optimizeIncremental(spark, root)
    }
    assert(e.getMessage.contains("no clustering spec"))
    SnapshotStore.optimize(spark, root, targetFiles = 8,
      zorderBy = Seq("id"))
    val m1 = SnapshotStore.snapshot(root).get
    assert(m1.cluster === Seq("id"))
    // already disjoint -> no-op, no version bump
    assert(SnapshotStore.optimizeIncremental(spark, root) === m1.version)
    // an overlapping append + a keyed layer; the recluster must rewrite
    // only the straddled group and keep the layer fold intact
    SnapshotStore.commitAppend(
      spark.range(600, 900)
        .select(col("id"),
          when(col("id") >= 0, 99L).as("v")) // nullable, matches table
        .coalesce(1), root)
    SnapshotStore.mergeOnRead(spark, root,
      Seq((650L, 1L, 1L, false), (10L, 2L, 1L, true))
        .toDF("id", "v", "ver", "del"),
      key = "id", versionCol = "ver", deleteCol = "del")
    val before = SnapshotStore.read(spark, root)
      .as[(Long, Long)].collect().toSet
    val m2 = SnapshotStore.snapshot(root).get
    val v = SnapshotStore.optimizeIncremental(spark, root)
    val m3 = SnapshotStore.snapshot(root).get
    assert(v === m2.version + 1)
    val untouched = m3.files.toSet intersect m2.files.toSet
    assert(untouched.nonEmpty && (m2.files.toSet -- m3.files.toSet)
      .nonEmpty && untouched.size < m3.files.size)
    assert(m3.layers === m2.layers && m3.cluster === Seq("id"))
    assert(SnapshotStore.read(spark, root)
      .as[(Long, Long)].collect().toSet === before)
    // layout is disjoint again: a mid-range probe prunes
    val (_, rep) = SnapshotStore.readWhere(spark, root,
      Between("id", 100L, 180L))
    assert(rep.filesOpened < m3.files.size, rep.toString)
  }

  test("bloom maintenance: a maintain=true index keeps pruning after " +
      "appends (new files get commit-time bitmaps); default indexes " +
      "stay conservative; the codec round-trips the flag") {
    import SnapshotStore.StatsPred._
    // keys co-located by hash so the stats tier cannot claim the skips
    def byHash(lo: Long, hi: Long) =
      spark.range(lo, hi).select(col("id"), (col("id") % 7).as("v"))
        .repartition(4, xxhash64(col("id")))
    // maintained index
    val root = freshRoot()
    SnapshotStore.commitOverwrite(byHash(0, 400), root)      // v0
    SnapshotStore.indexBloom(spark, root, "id", maintain = true) // v1
    val m1 = SnapshotStore.snapshot(root).get
    assert(m1.blooms.head.maintain)
    assert(SnapshotStore.parse(SnapshotStore.render(m1)) === m1)
    SnapshotStore.commitAppend(byHash(1000, 1400), root)     // v2
    val m2 = SnapshotStore.snapshot(root).get
    assert(m2.blooms.head.maintain &&
      m2.blooms.head.file != m1.blooms.head.file,
      "append must publish a merged sidecar")
    // probe a key that lives ONLY in an appended file: the 4 old files
    // stats-skip (disjoint ranges; attribution counts stats first), and
    // the bloom tier must skip the other 3 NEW files — without
    // maintenance all 4 would open conservatively
    val (gotNew, repNew) = SnapshotStore.readWhere(spark, root,
      Eq("id", 1077L))
    assert(gotNew.as[(Long, Long)].collect().toSeq ===
      Seq((1077L, 1077L % 7)))
    assert(repNew.filesOpened === 1 && repNew.bloomSkipped === 3,
      repNew.toString)
    // an old key still probes through the merged sidecar
    val (gotOld, repOld) = SnapshotStore.readWhere(spark, root,
      Eq("id", 77L))
    assert(gotOld.as[(Long, Long)].collect().toSeq === Seq((77L, 77L % 7)))
    assert(repOld.filesOpened === 1, repOld.toString)
    // default (maintain = false): appended files open conservatively
    val root2 = freshRoot()
    SnapshotStore.commitOverwrite(byHash(0, 400), root2)
    SnapshotStore.indexBloom(spark, root2, "id")
    SnapshotStore.commitAppend(byHash(1000, 1400), root2)
    val (_, repCons) = SnapshotStore.readWhere(spark, root2,
      Eq("id", 1077L))
    assert(repCons.filesOpened === 4 && repCons.bloomSkipped === 0,
      s"all 4 unindexed new files must open conservatively: $repCons")
  }

  // ------------------------------------------------- predicate delete

  test("deleteWhere: metadata-only commit — fully-covered clustered " +
      "files drop from the manifest, partial files filter at read, " +
      "NULL-predicate rows are kept, optimize folds the layer") {
    import SnapshotStore.StatsPred._
    val root = freshRoot()
    // 4 files range-clustered on id: [0,100) [100,200) [200,300) [300,400);
    // v is NULL on every 10th id
    (0 until 4).foreach { k =>
      SnapshotStore.commitAppend(
        spark.range(k * 100, (k + 1) * 100)
          .select(col("id"),
            when(col("id") % 10 =!= 0, col("id") % 7).as("v"))
          .coalesce(1), root)
    }
    val v0 = SnapshotStore.snapshot(root).get
    val dataBefore = walkData(root)
    // DELETE WHERE id BETWEEN 100 AND 250: file [100,200) is FULLY
    // covered (drops from the manifest), [200,300) partially (filters)
    val v = SnapshotStore.deleteWhere(spark, root,
      Between("id", 100L, 250L))
    assert(v === v0.version + 1)
    val m = SnapshotStore.snapshot(root).get
    assert(m.files.size === 3 && v0.files.size === 4,
      s"fully-covered file must drop: ${m.files.size}")
    assert(m.layers.size === 1 && m.layers.head.pred.nonEmpty &&
      m.layers.head.files.isEmpty)
    // ZERO data files written by the delete
    assert(walkData(root) === dataBefore)
    // manifest codec round-trips the predicate layer
    assert(SnapshotStore.parse(SnapshotStore.render(m)) === m)
    val got = SnapshotStore.read(spark, root)
      .agg(count(lit(1)), min(col("id")), max(col("id")))
      .as[(Long, Long, Long)].head()
    assert(got === ((249L, 0L, 399L))) // 400 - 151 deleted
    // NULL-predicate semantics: DELETE WHERE v > 100 matches nothing,
    // and rows with NULL v are KEPT (SQL 3VL)
    SnapshotStore.deleteWhere(spark, root, Gt("v", 100L))
    assert(SnapshotStore.read(spark, root).count() === 249)
    // time travel: v0-era read still sees all 400
    assert(SnapshotStore.read(spark, root, Some(v0.version)).count() === 400)
    // optimize folds both layers away; content unchanged
    SnapshotStore.optimize(spark, root, targetFiles = 2)
    val opt = SnapshotStore.snapshot(root).get
    assert(opt.layers.isEmpty)
    assert(SnapshotStore.read(spark, root).count() === 249)
    // unknown column fails loudly
    val e = intercept[IllegalArgumentException] {
      SnapshotStore.deleteWhere(spark, root, Eq("nope", 1L))
    }
    assert(e.getMessage.contains("unknown column"))
  }

  test("deleteWhere composes with keyed layers and appends in commit " +
      "order: update-then-delete removes the update; append-after-" +
      "delete survives") {
    import SnapshotStore.StatsPred._
    val root = freshRoot()
    SnapshotStore.commitOverwrite(
      spark.range(0, 100)
        .select(col("id"),
          // when() keeps `tag` NULLABLE so later Seq-built appends
          // (nullable strings) schema-match the table
          when(col("id") >= 0, lit("base")).as("tag"))
        .coalesce(1), root)                                    // v0
    // keyed layer: move id=5 into the soon-deleted range's tag space
    SnapshotStore.mergeOnRead(spark, root,
      Seq((5L, "upd", 1L, false)).toDF("id", "tag", "ver", "del"),
      key = "id", versionCol = "ver", deleteCol = "del")       // v1
    // predicate delete AFTER the update: id <= 10 — the updated row
    // (still id=5) goes with it
    SnapshotStore.deleteWhere(spark, root, Le("id", 10L))      // v2
    assert(SnapshotStore.read(spark, root).count() === 89)
    assert(SnapshotStore.read(spark, root)
      .filter(col("id") === 5L).count() === 0)
    // append AFTER the delete: matching ids land anyway (commit order)
    SnapshotStore.commitAppend(
      Seq((5L, "back")).toDF("id", "tag"), root)               // v3
    val fin = SnapshotStore.read(spark, root)
    assert(fin.count() === 90)
    assert(fin.filter(col("id") === 5L).as[(Long, String)]
      .collect().toSeq === Seq((5L, "back")))
    // the mid-chain pinned read (post-delete, pre-append) is stable
    assert(SnapshotStore.read(spark, root, Some(2)).count() === 89)
  }

  test("deleteWhere accepts the documented normalizing literal types " +
      "(java.sql.Date / Timestamp / Float / java BigDecimal) — the " +
      "round-trip guard compares canonical forms, not raw equality") {
    import SnapshotStore.StatsPred._
    val root = freshRoot()
    SnapshotStore.commitOverwrite(
      spark.range(0, 20).select(col("id"),
        date_add(lit(java.sql.Date.valueOf("2024-01-01")),
          col("id").cast("int")).as("d"),
        (col("id").cast("double") / 4.0).cast("float").as("f"),
        col("id").cast("decimal(10,2)").as("m"),
        to_timestamp(lit("2024-01-01 00:00:00")).as("ts")), root)
    // each would previously throw "must survive the manifest
    // round-trip" because the codec normalizes the literal's type
    SnapshotStore.deleteWhere(spark, root,
      Eq("d", java.sql.Date.valueOf("2024-01-05")))
    SnapshotStore.deleteWhere(spark, root, Lt("f", 0.5f))
    SnapshotStore.deleteWhere(spark, root,
      Gt("m", new java.math.BigDecimal("17.00")))
    SnapshotStore.deleteWhere(spark, root,
      Le("ts", java.sql.Timestamp.valueOf("2023-01-01 00:00:00")))
    // 20 - 1 (date) - 2 (f<0.5: ids 0,1) - 2 (m>17: ids 18,19) - 0 (ts)
    assert(SnapshotStore.read(spark, root).count() === 15)
    // and the committed layers re-parse: the manifest is readable
    val m = SnapshotStore.snapshot(root).get
    assert(SnapshotStore.parse(SnapshotStore.render(m)) === m)
  }

  test("parsePred fails loudly (not StringIndexOutOfBounds) on " +
      "truncated predicates") {
    val unterminated = intercept[IllegalArgumentException] {
      SnapshotStore.parsePred("""(eq "col""")
    }
    assert(unterminated.getMessage.contains("truncated predicate"))
    val dangling = intercept[IllegalArgumentException] {
      SnapshotStore.parsePred("""(eq "col\""")
    }
    assert(dangling.getMessage.contains("truncated predicate"))
  }

  test("compactSmallFiles: packs only under-threshold inline files, " +
      "preserves layers and their fold, no-ops below two candidates") {
    import SnapshotStore.StatsPred._
    val root = freshRoot()
    // one big file (1000 rows), four small (10 rows each)
    SnapshotStore.commitOverwrite(
      spark.range(0, 1000).select(col("id"),
        when(col("id") >= 0, lit("big")).as("tag")).coalesce(1), root)
    (0 until 4).foreach { k =>
      SnapshotStore.commitAppend(
        spark.range(10000 + k * 10, 10000 + (k + 1) * 10)
          .select(col("id"), when(col("id") >= 0, lit(s"s$k")).as("tag"))
          .coalesce(1), root)
    }
    // a keyed layer + a predicate delete BEFORE compaction: both must
    // survive the re-pack bit-for-bit (suppression is by key/predicate,
    // never by file)
    SnapshotStore.mergeOnRead(spark, root,
      Seq((10005L, "upd", 1L, false), (10017L, "x", 1L, true))
        .toDF("id", "tag", "ver", "del"),
      key = "id", versionCol = "ver", deleteCol = "del")
    SnapshotStore.deleteWhere(spark, root, Between("id", 0L, 4L))
    val before = SnapshotStore.read(spark, root)
      .as[(Long, String)].collect().toSet
    val m0 = SnapshotStore.snapshot(root).get
    val sizes = m0.files.map(f => f ->
      java.nio.file.Files.size(java.nio.file.Paths.get(root, f))).toMap
    val bigFile = sizes.maxBy(_._2)._1
    val v = SnapshotStore.compactSmallFiles(spark, root,
      maxBytes = sizes(bigFile) - 1)
    val m1 = SnapshotStore.snapshot(root).get
    assert(v === m0.version + 1)
    assert(m1.files.size === 2 && m1.files.contains(bigFile))
    assert(m1.layers === m0.layers) // both layers carried verbatim
    assert(SnapshotStore.read(spark, root)
      .as[(Long, String)].collect().toSet === before)
    // fewer than two qualifying files -> no-op, no version bump
    assert(SnapshotStore.compactSmallFiles(spark, root,
      maxBytes = 1L) === v)
    assert(SnapshotStore.versions(root).last === v)
  }

  test("timestampAsOf travels to the newest version at or before the " +
      "instant; before-first-commit refuses; old manifests parse") {
    val root = freshRoot()
    SnapshotStore.commitOverwrite(spark.range(0, 5).toDF("id"), root)
    val ts0 = SnapshotStore.snapshot(root, Some(0)).get.ts
    assert(ts0 > 0L)
    Thread.sleep(30)
    SnapshotStore.commitAppend(spark.range(5, 8).toDF("id"), root)
    val ts1 = SnapshotStore.snapshot(root, Some(1)).get.ts
    assert(SnapshotStore.versionAsOfTimestamp(root, (ts0 + ts1) / 2)
      === Some(0))
    assert(SnapshotStore.versionAsOfTimestamp(root, ts0 - 1) === None)
    // the format front door takes epoch millis or an ISO instant
    assert(spark.read.format("graft")
      .option("timestampAsOf", ((ts0 + ts1) / 2).toString)
      .load(root).count() === 5)
    assert(spark.read.format("graft")
      .option("timestampAsOf",
        java.time.Instant.ofEpochMilli(ts1).toString)
      .load(root).count() === 8)
    val e = intercept[Exception] {
      spark.read.format("graft")
        .option("timestampAsOf", (ts0 - 1).toString).load(root)
    }
    assert(e.getMessage.contains("predates"), e.getMessage)
  }

  test("layered append keeps its stats: add-only layer files prune " +
      "through their own sidecar with report attribution") {
    val root = freshRoot()
    SnapshotStore.commitOverwrite(
      spark.range(0, 1000).select(col("id"), (col("id") % 7).as("v"))
        .repartitionByRange(4, col("id")), root)              // v0
    SnapshotStore.deleteWhere(spark, root,
      SnapshotStore.StatsPred.Between("id", 100L, 199L))      // v1: layered
    SnapshotStore.commitAppend(
      spark.range(1000, 2000).select(col("id"), (col("id") % 7).as("v"))
        .repartitionByRange(4, col("id")), root)              // v2
    val m = SnapshotStore.snapshot(root).get
    val addOnly = m.layers.last
    assert(addOnly.key.isEmpty && addOnly.pred.isEmpty &&
      addOnly.files.size === 4)
    assert(addOnly.statsFile.nonEmpty,
      "layered append must carry the harvested stats on the layer")
    // base-resident probe: every add-only layer file must SKIP, and the
    // report must attribute the layer files (listed, not opened)
    val (df, rep) = SnapshotStore.readWhere(spark, root,
      SnapshotStore.StatsPred.Between("id", 300L, 350L))
    assert(df.agg(sum("id")).head.getLong(0) === (300L to 350L).sum)
    assert(rep.filesListed === m.files.size + addOnly.files.size)
    assert(rep.filesOpened < m.files.size,
      s"all 4 layer files (and most base files) must skip: $rep")
    // layer-resident probe: base skips, O(selectivity) layer files open
    val (dfL, repL) = SnapshotStore.readWhere(spark, root,
      SnapshotStore.StatsPred.Between("id", 1300L, 1350L))
    assert(dfL.count() === 51)
    assert(repL.filesOpened <= 2, s"base must skip entirely: $repL")
    // the delete layer still applies above the pruned plan
    val (dfD, _) = SnapshotStore.readWhere(spark, root,
      SnapshotStore.StatsPred.Between("id", 0L, 999L))
    assert(dfD.count() === 900)
  }

  test("commitAppendOnce maintains opt-in bloom indexes (the " +
      "streaming-sink path) exactly like commitAppend") {
    val root = freshRoot()
    SnapshotStore.commitOverwrite(
      spark.range(0, 500).select(col("id"), (col("id") % 7).as("v"))
        .coalesce(1), root)
    SnapshotStore.indexBloom(spark, root, "id", maintain = true)
    val before = SnapshotStore.snapshot(root).get.blooms.head
    SnapshotStore.commitAppendOnce(
      spark.range(10000, 10500)
        .select(col("id"), (col("id") % 7).as("v")).coalesce(1),
      root, txn = "bloom-once:0")
    val m = SnapshotStore.snapshot(root).get
    val after = m.blooms.head
    assert(after.file !== before.file,
      "txn-deduped append must merge a fresh maintained sidecar")
    // every file — including the appended one — carries bitmap lines
    assert(m.files.toSet.subsetOf(
      SnapshotStore.bloomBitmaps(root, after).keySet))
    // replay: txn dedup still wins, index untouched
    assert(SnapshotStore.commitAppendOnce(
      spark.range(0, 1).select(col("id"), (col("id") % 7).as("v")),
      root, txn = "bloom-once:0").isEmpty)
    assert(SnapshotStore.snapshot(root).get.blooms.head === after)
  }

  test("bloom auto-size derives from ROW counts, never the _graft:size " +
      "byte-size pseudo-column") {
    val root = freshRoot()
    // several columns so the sidecar map interleaves the size key among
    // real columns regardless of hash order
    SnapshotStore.commitOverwrite(
      spark.range(0, 100).select(col("id"), (col("id") % 3).as("a"),
        (col("id") % 5).as("b"), (col("id") % 7).as("c")).coalesce(1),
      root)
    SnapshotStore.indexBloom(spark, root, "id")
    val b = SnapshotStore.snapshot(root).get.blooms.head
    // 100 rows -> need 1000 bits -> the 2^10 floor; sizing from the
    // file's BYTE size (KBs) would land several powers of two higher
    assert(b.logBits === 10, s"auto-size must use row counts: $b")
  }

  private def walkData(root: String): Set[String] = {
    val d = java.nio.file.Paths.get(root, "data")
    if (!java.nio.file.Files.isDirectory(d)) Set.empty
    else {
      val s = java.nio.file.Files.walk(d)
      try {
        val it = s.iterator()
        val b = Set.newBuilder[String]
        while (it.hasNext) {
          val p = it.next()
          if (p.toString.endsWith(".parquet")) b += p.toString
        }
        b.result()
      } finally s.close()
    }
  }

  test("rewriteManifests carries the bloom index: equality probes keep " +
      "their bloom pruning after the regrouping") {
    val root = freshRoot()
    // clustered on `grp`, probed on `id`: only the bloom tier can skip
    (0 until 4).foreach { g =>
      SnapshotStore.commitAppend(
        spark.range(0, 400).filter(col("id") % 4 === g)
          .select(col("id"), lit(g).as("grp")).coalesce(1), root)
    }
    SnapshotStore.indexBloom(spark, root, "id", logBits = 12)
    val probe = SnapshotStore.StatsPred.Eq("id", 42L)
    val (_, before) = SnapshotStore.readWhere(spark, root, probe)
    assert(before.bloomSkipped === 3, before.toString)
    SnapshotStore.rewriteManifests(root, 2)
    val m = SnapshotStore.snapshot(root).get
    assert(m.files.isEmpty && m.segments.size === 2)
    assert(m.blooms.map(_.column) === Seq("id"))
    val (df, after) = SnapshotStore.readWhere(spark, root, probe)
    assert(df.as[(Long, Int)].collect().toSeq === Seq((42L, 2)))
    assert(after.bloomSkipped === before.bloomSkipped &&
      after.filesOpened === before.filesOpened, after.toString)
  }

  test("evolve-append on a layered table lands as a pruned add-only " +
      "layer with its stats and maintained bloom lines") {
    val root = freshRoot()
    SnapshotStore.commitOverwrite(
      spark.range(0, 1000).select(col("id"), (col("id") % 7).as("v"))
        .repartitionByRange(4, col("id")), root)              // v0
    SnapshotStore.indexBloom(spark, root, "id", maintain = true)
    SnapshotStore.deleteWhere(spark, root,
      SnapshotStore.StatsPred.Between("id", 100L, 199L))      // layered
    SnapshotStore.commitAppendEvolve(
      spark.range(1000, 2000).select(col("id"), (col("id") % 7).as("v"),
        lit("new").as("w")).repartitionByRange(4, col("id")), root)
    val m = SnapshotStore.snapshot(root).get
    val layer = m.layers.last
    assert(layer.key.isEmpty && layer.pred.isEmpty && layer.files.size === 4)
    assert(layer.statsFile.nonEmpty,
      "the evolve layer must carry its stats sidecar")
    assert(m.blooms.map(_.column) === Seq("id") &&
      layer.files.toSet.subsetOf(
        SnapshotStore.bloomBitmaps(root, m.blooms.head).keySet),
      "the maintained bloom must cover the evolve layer's files")
    val (dfL, repL) = SnapshotStore.readWhere(spark, root,
      SnapshotStore.StatsPred.Between("id", 1300L, 1350L))
    assert(dfL.filter(col("w") === "new").count() === 51)
    assert(repL.filesOpened < repL.filesListed, repL.toString)
    val (dfE, repE) = SnapshotStore.readWhere(spark, root,
      SnapshotStore.StatsPred.Eq("id", 1500L))
    assert(dfE.count() === 1 && repE.filesOpened <= 1, repE.toString)
    // the older delete still applies; base rows read w as NULL
    assert(SnapshotStore.read(spark, root).filter(col("w").isNull)
      .count() === 900)
  }

  test("optimize z-orders on a DATE column and the layout prunes a " +
      "date-range readWhere") {
    val root = freshRoot()
    val days = spark.range(0, 800).select(
      expr("date_add(DATE'2020-01-01', CAST((id * 37) % 400 AS INT))")
        .as("d"), col("id"))
    SnapshotStore.commitOverwrite(days.repartition(4), root)
    SnapshotStore.optimize(spark, root, targetFiles = 4, zorderBy = Seq("d"))
    val m = SnapshotStore.snapshot(root).get
    assert(m.cluster === Seq("d") && m.files.size === 4)
    val lo = java.sql.Date.valueOf("2020-02-01")
    val hi = java.sql.Date.valueOf("2020-02-20")
    val (df, rep) = SnapshotStore.readWhere(spark, root,
      SnapshotStore.StatsPred.Between("d", lo, hi))
    assert(df.count() === days.filter(col("d").between(lo, hi)).count())
    assert(rep.filesOpened < rep.filesListed, rep.toString)
  }
}
