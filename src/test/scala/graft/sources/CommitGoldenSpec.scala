package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{StringType, StructField}

import graft.SparkSpec
import graft.sources.SnapshotStore.{Manifest, StatsPred}

/** GOLDEN MANIFESTS for every commit path of the table layer and the
  * catalog: one scripted sequence on small deterministic frames, each
  * committed manifest rendered with its commit clock zeroed and every
  * uuid replaced by its first-appearance ordinal (sidecars and segment
  * files are rendered as a digest of their normalized content). The
  * rendering is compared against `src/test/resources/golden_manifests.txt`,
  * so any change to what a commit records — a field dropped, a sidecar
  * not written, a bloom not maintained — shows as a line diff.
  * `REGENERATE_GOLDEN=1` rewrites the file. Budget: about 30 s. */
class CommitGoldenSpec extends SparkSpec {
  import spark.implicits._

  private val uuidRe = ("(data/|part-\\d+-|stats-|bloom-|seg-|staged-|)" +
    "([0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12})").r

  /** Accumulates the normalized rendering. A uuid is named by the step
    * that first renders it, its kind (the path prefix before it) and its
    * ordinal among that step's uuids of that kind — so one data file
    * keeps its name across every manifest naming it, and a sidecar one
    * step adds or drops does not rename anything another step wrote. */
  private final class Golden {
    private val ids = scala.collection.mutable.HashMap[String, String]()
    private val perKind = scala.collection.mutable.HashMap[String, Int]()
    private var stepNo = 0
    private val out = new StringBuilder

    def nextStep(): Unit = { stepNo += 1; perKind.clear() }

    def norm(s: String): String = uuidRe.replaceAllIn(s, m => {
      val kind = m.group(1).filter(_.isLetter)
      val name = ids.getOrElseUpdate(m.group(2), {
        val k = perKind.getOrElse(kind, 0)
        perKind(kind) = k + 1
        s"#$stepNo.$kind$k"
      })
      java.util.regex.Matcher.quoteReplacement(m.group(1) + name)
    })

    private def read(root: String, rel: String): String = {
      val p = Paths.get(root, rel)
      if (rel.isEmpty) "-"
      else if (!Files.exists(p)) "missing"
      else new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
    }

    /** Sidecar lines are ordered by raw uuid paths (or by collect
      * order), so they are normalized first and then sorted. */
    private def digest(text: String): String = {
      val md = java.security.MessageDigest.getInstance("SHA-1")
      val lines = norm(text).split('\n').sorted.mkString("\n")
      md.digest(lines.getBytes(StandardCharsets.UTF_8))
        .take(6).map(b => f"$b%02x").mkString
    }

    def line(s: String): Unit = out.append(norm(s)).append('\n')

    /** One manifest plus a digest of each sidecar/segment it names. */
    def manifest(root: String, label: String, m: Manifest): Unit = {
      line(s"$label ${SnapshotStore.render(m.copy(ts = 0L))}")
      def side(kind: String, rel: String): Unit =
        if (rel.nonEmpty) line(s"  $kind ${norm(rel)} ${digest(read(root, rel))}")
      side("stats", m.statsFile)
      m.layers.foreach(l => side("lstats", l.statsFile))
      m.blooms.foreach(b => side("bloom", b.file))
      m.segments.foreach { ref =>
        val seg = SnapshotStore.readSegmentManifest(root, ref)
        line(s"  segment ${ref.path} files=${seg.files.mkString(",")}")
        side("segstats", seg.statsFile)
      }
    }

    def text: String = out.toString
  }

  private def fresh(tag: String): String =
    Files.createTempDirectory(s"golden-$tag").toString

  private def rows(ids: Seq[Long], tag: String, files: Int): DataFrame =
    ids.map(i => (i, (i % 3).toInt, s"$tag-$i")).toDF("id", "grp", "s")
      .repartition(files, col("id"))

  test("every commit path records the golden manifest") {
    val g = new Golden
    // table-layer steps: render each NEW version the call published
    def step(root: String, name: String)(body: => Any): Unit = {
      val before = SnapshotStore.versions(root).lastOption.getOrElse(-1)
      val r = body
      g.nextStep()
      g.line(s"== $name -> $r")
      SnapshotStore.versions(root).filter(_ > before).foreach { v =>
        g.manifest(root, s"v$v", SnapshotStore.snapshot(root, Some(v)).get)
      }
    }

    // --- A: the append family, layered and txn-deduped
    val a = fresh("a")
    step(a, "A create")(SnapshotStore.commitCreate(rows(0L until 40L, "a", 2), a))
    step(a, "A indexBloom(maintain)")(
      SnapshotStore.indexBloom(spark, a, "id", maintain = true))
    step(a, "A append")(SnapshotStore.commitAppend(rows(40L until 50L, "a", 1), a))
    step(a, "A appendOnce t1")(
      SnapshotStore.commitAppendOnce(rows(50L until 55L, "a", 1), a, "t1"))
    step(a, "A appendOnce t1 replayed")(
      SnapshotStore.commitAppendOnce(rows(50L until 55L, "a", 1), a, "t1"))
    val changes = Seq[(Long, Int, String, Long, java.lang.Boolean)](
      (0L, 0, "u0", 1L, false), (1L, 1, "u1", 1L, false),
      (2L, 2, "gone", 1L, true), (100L, 1, "ins", 1L, null))
      .toDF("id", "grp", "s", "ver", "del")
    step(a, "A mergeOnReadOnce m1")(SnapshotStore.mergeOnReadOnce(spark, a,
      changes, "id", "ver", "del", "m1"))
    step(a, "A mergeOnReadOnce m1 replayed")(SnapshotStore.mergeOnReadOnce(
      spark, a, changes, "id", "ver", "del", "m1"))
    step(a, "A layered append")(
      SnapshotStore.commitAppend(rows(60L until 65L, "a", 1), a))
    step(a, "A layered appendOnce t2")(
      SnapshotStore.commitAppendOnce(rows(65L until 68L, "a", 1), a, "t2"))
    step(a, "A layered evolve-append")(SnapshotStore.commitAppendEvolve(
      rows(70L until 75L, "a", 1).withColumn("note", col("s")), a))
    step(a, "A deleteWhere")(SnapshotStore.deleteWhere(spark, a,
      StatsPred.Eq("grp", 1)))
    step(a, "A mergeOnRead")(SnapshotStore.mergeOnRead(spark, a,
      Seq[(Long, Int, String, String, Long, java.lang.Boolean)](
        (3L, 0, "u3", null, 2L, false)).toDF("id", "grp", "s", "note",
        "ver", "del"), "id", "ver", "del"))

    // --- B: segments and the manifest rewrite
    val b = fresh("b")
    step(b, "B create")(SnapshotStore.commitCreate(rows(0L until 20L, "b", 2), b))
    step(b, "B indexBloom(maintain)")(
      SnapshotStore.indexBloom(spark, b, "id", maintain = true))
    step(b, "B appendSegment")(
      SnapshotStore.appendSegment(rows(20L until 30L, "b", 1), b))
    step(b, "B appendSegment")(
      SnapshotStore.appendSegment(rows(30L until 40L, "b", 2), b))
    step(b, "B append")(SnapshotStore.commitAppend(rows(40L until 45L, "b", 1), b))
    step(b, "B rewriteManifests")(SnapshotStore.rewriteManifests(b, 2))

    // --- C: compaction, clustering, copy-on-write merge
    val c = fresh("c")
    step(c, "C overwrite")(
      SnapshotStore.commitOverwrite(rows(0L until 40L, "c", 4), c))
    step(c, "C append")(SnapshotStore.commitAppend(rows(40L until 50L, "c", 1), c))
    step(c, "C compactSmallFiles")(
      SnapshotStore.compactSmallFiles(spark, c, maxBytes = 1L << 30))
    step(c, "C optimize(zorderBy)")(SnapshotStore.optimize(spark, c,
      targetFiles = 2, zorderBy = Seq("id")))
    step(c, "C append")(SnapshotStore.commitAppend(rows(5L until 45L, "x", 1), c))
    step(c, "C optimizeIncremental")(SnapshotStore.optimizeIncremental(spark, c))
    step(c, "C merge")(SnapshotStore.merge(spark, c,
      Seq[(Long, Int, String, Long, java.lang.Boolean)](
        (7L, 1, "m7", 1L, false), (8L, 2, "x", 1L, true))
        .toDF("id", "grp", "s", "ver", "del"), "id", "ver", "del"))

    // --- R: the catalog
    val r = fresh("r")
    def cstep(name: String)(body: => Any): Unit = {
      val before = Catalog.snapshot(r).map(_.tables).getOrElse(Map.empty)
      val res = body
      g.nextStep()
      g.line(s"== $name -> $res")
      Catalog.snapshot(r).foreach { s =>
        g.line(s"cat v${s.version} " + s.tables.toSeq.sortBy(_._1)
          .map { case (t, rel) => s"$t=$rel" }.mkString(" "))
        s.tables.toSeq.sortBy(_._1).filter { case (t, rel) =>
          !before.get(t).contains(rel) }.foreach { case (t, rel) =>
          g.manifest(Catalog.tableRoot(r, t), s"  $t",
            Catalog.tableManifest(r, t, Some(s.version)).get)
        }
      }
    }
    def rel(t: String): String = Catalog.snapshot(r).get.tables(t)
    cstep("R commit c1+c2 overwrite")(Catalog.commit(r, Map(
      "c1" -> (rows(0L until 20L, "c1", 2), Catalog.Overwrite),
      "c2" -> (rows(0L until 10L, "c2", 1), Catalog.Overwrite))))
    cstep("R commit c1 append")(Catalog.commit(r, Map(
      "c1" -> (rows(20L until 25L, "c1", 1), Catalog.Append))))
    cstep("R deleteWhere c1")(Catalog.deleteWhere(r, "c1",
      StatsPred.Eq("grp", 0)))
    cstep("R commit c1 layered append")(Catalog.commit(r, Map(
      "c1" -> (rows(25L until 28L, "c1", 1), Catalog.Append))))
    cstep("R updateWhereIf c1")(Catalog.updateWhereIf(r, "c1", rel("c1"),
      StatsPred.Eq("grp", 1),
      rows(Seq(1L, 4L), "upd", 1)))
    cstep("R replaceTableIf c2")(Catalog.replaceTableIf(r, "c2", rel("c2"),
      rows(0L until 6L, "c2r", 1)))
    val replaced = Catalog.versions(r).last
    cstep("R evolveSchema c2")(Catalog.evolveSchema(r, "c2",
      Seq(StructField("note", StringType, nullable = true))))
    cstep("R renameColumn c2")(Catalog.renameColumn(r, "c2", "s", "label"))
    cstep("R dropColumn c2")(Catalog.dropColumn(r, "c2", "grp"))
    cstep("R commit c2 mapped append")(Catalog.commit(r, Map(
      "c2" -> (Seq((50L, "l50", "n50")).toDF("id", "label", "note"),
        Catalog.Append))))
    cstep("R restoreTable c2")(Catalog.restoreTable(r, "c2", replaced))
    cstep("R commitCreate c3")(Catalog.commitCreate(r, "c3",
      rows(0L until 4L, "c3", 1)))
    val staged = SnapshotStore.writeData(rows(4L until 8L, "c3s", 1),
      Catalog.tableRoot(r, "c3"))
    val stagedDdl = rows(Nil, "", 1).schema.toDDL
    cstep("R commitStagedFilesOnce c3 s1")(Catalog.commitStagedFilesOnce(r,
      "c3", staged, stagedDdl, "s1"))
    cstep("R commitStagedFilesOnce c3 s1 replayed")(
      Catalog.commitStagedFilesOnce(r, "c3",
        SnapshotStore.writeData(rows(4L until 8L, "c3s", 1),
          Catalog.tableRoot(r, "c3")), stagedDdl, "s1"))
    SnapshotStore.commitCreate(rows(0L until 3L, "c4", 1),
      Catalog.tableRoot(r, "c4"))
    cstep("R adopt c4")(Catalog.adopt(r, "c4"))
    cstep("R drop c1")(Catalog.drop(r, "c1"))

    val goldenPath = Paths.get("src/test/resources/golden_manifests.txt")
    if (sys.env.contains("REGENERATE_GOLDEN")) // dev hook: refresh snapshot
      Files.writeString(goldenPath, g.text)
    val golden = Files.readString(goldenPath).split('\n').toSeq
    val got = g.text.split('\n').toSeq
    val diff = got.zipAll(golden, "<none>", "<none>").zipWithIndex
      .filter { case ((x, y), _) => x != y }
    if (diff.nonEmpty) fail(s"${diff.size} line(s) differ; first: " +
      diff.take(5).map { case ((x, y), i) =>
        s"line ${i + 1}:\n  got    $x\n  golden $y" }.mkString("\n"))
  }
}
