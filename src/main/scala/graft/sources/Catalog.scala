package graft.sources

import java.nio.file.{Files, Path, Paths}
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Multi-table ATOMIC commits over [[SnapshotStore]] tables — the
  * catalog-level transaction the single-table layer scopes out: one
  * commit appends/overwrites SEVERAL tables, and a reader pinned to a
  * catalog version sees either ALL of a transaction's table states or
  * NONE of them — never a torn cross-table view.
  *
  * Layout under a catalog root:
  * {{{
  *   <root>/_catalog/v<K>.json                  catalog version K
  *   <root>/<table>/data/<uuid>/part-*.parquet  immutable data files
  *   <root>/<table>/_manifests/staged-*.json    catalog-owned manifests
  * }}}
  *
  * The design keyword is STAGED manifests: a catalog transaction writes
  * each table's manifest under a name the single-table reader protocol
  * cannot resolve (`staged-<uuid>.json` never matches `v<N>.json`), so
  * in-flight table states are INVISIBLE until the one catalog publish —
  * the same atomic hard-link primitive as the table layer, now guarding
  * the whole set. Why not publish through each table's own v<N> chain
  * and then link a catalog version at the end? Because a concurrent
  * catalog committer could then publish a catalog version naming table
  * X's NEW manifest (which rebase-included our staged append) while
  * still naming table Y's OLD one — exposing half of our transaction: a
  * torn read by construction. With staged manifests, table states only
  * become reachable through the catalog version that names ALL of them.
  *
  * Concurrency: optimistic, serializable for append/overwrite. Data
  * files are written ONCE (the expensive part needs no coordination);
  * the retry loop rebuilds only the tiny staged manifests against the
  * new head and re-attempts the link. Losing attempts leave unreachable
  * staged manifests/sidecars — metadata-sized scratch that [[vacuum]]
  * sweeps with the same reachability walk as the table layer's, along
  * with expired catalog versions' data files.
  *
  * Stats ride along: each staged manifest carries the same footer-
  * harvested sidecar as a table-layer commit, composed with the base's
  * ([[SnapshotStore.fileStats]] / [[SnapshotStore.readWhere]]-style
  * pruning works on catalog tables via [[readTableWhere]]).
  */
object Catalog {

  sealed trait Mode
  case object Append extends Mode
  case object Overwrite extends Mode

  /** Thrown by [[commitCreate]] when the name exists at the rebased
    * head — a dedicated type so callers (the SQL catalog) can map it to
    * Spark's TableAlreadyExistsException without catching unrelated
    * argument errors. */
  final class TableExistsException(msg: String)
      extends IllegalArgumentException(msg)

  /** Catalog version K's facts: per-table manifest paths (relative to
    * each table's root `<catalogRoot>/<table>/`), plus the commit
    * wall-clock (epoch millis, stamped at publish — 0 on versions
    * committed before timestamps existed, which time travel treats as
    * arbitrarily old). Tables absent from the map have never been
    * committed at this version. */
  final case class CatalogSnapshot(version: Int,
      tables: Map[String, String], ts: Long = 0L)

  private def catDir(root: String): Path = Paths.get(root, "_catalog")
  private def catPath(root: String, v: Int): Path =
    catDir(root).resolve(s"v$v.json")
  private val CatName = """v(\d+)\.json""".r

  /** Committed catalog versions, ascending. */
  def versions(root: String): Seq[Int] = {
    val dir = catDir(root)
    if (!Files.isDirectory(dir)) Seq.empty
    else {
      val it = Files.list(dir)
      try {
        val i = it.iterator().asInstanceOf[java.util.Iterator[Path]]
        val b = Seq.newBuilder[Int]
        while (i.hasNext) i.next().getFileName.toString match {
          case CatName(v) => b += v.toInt
          case _ => ()
        }
        b.result().sorted
      } finally it.close()
    }
  }

  private def render(s: CatalogSnapshot): String = {
    val entries = s.tables.toSeq.sortBy(_._1).map { case (n, m) =>
      s"""{"name":"${SnapshotStore.esc(n)}","manifest":"${
        SnapshotStore.esc(m)}"}"""
    }.mkString(",")
    val ts = if (s.ts != 0L) s""""ts":${s.ts},""" else ""
    s"""{"version":${s.version},$ts"tables":[$entries]}"""
  }

  private def parseCat(s: String): CatalogSnapshot = {
    val v = """"version":(-?\d+)""".r.findFirstMatchIn(s)
      .getOrElse(sys.error(s"catalog snapshot missing version: $s"))
      .group(1).toInt
    val pair =
      (""""name":"((?:\\.|[^"\\])*)","manifest":"((?:\\.|[^"\\])*)"""").r
    val tables = pair.findAllMatchIn(s).map(m =>
      SnapshotStore.unesc(m.group(1)) -> SnapshotStore.unesc(m.group(2)))
      .toMap
    // optional like the table layer's (pre-timestamp versions parse 0)
    val ts = """"ts":(\d+)""".r.findFirstMatchIn(s)
      .map(_.group(1).toLong).getOrElse(0L)
    CatalogSnapshot(v, tables, ts)
  }

  /** Newest catalog version whose commit wall-clock is ≤ `tsMillis` —
    * the `TIMESTAMP AS OF` resolution (Delta's latest-commit-at-or-
    * before rule). None when every committed version is newer (travel
    * before the first commit is a caller refusal). Versions stamped 0
    * (pre-timestamp catalogs) count as arbitrarily old. Wall clocks are
    * stamped at publish and immutable thereafter; the newest-first walk
    * returns the HIGHEST qualifying version even if a clock regression
    * made timestamps locally non-monotone. */
  def versionAsOfTimestamp(root: String, tsMillis: Long): Option[Int] =
    versions(root).reverseIterator
      .find(v => snapshot(root, Some(v)).get.ts <= tsMillis)

  /** The catalog state at `version` (or the current max). */
  def snapshot(root: String,
      version: Option[Int] = None): Option[CatalogSnapshot] =
    (version match {
      case Some(v) => Some(v)
      case None    => versions(root).lastOption
    }).map { v =>
      val p = catPath(root, v)
      require(Files.exists(p), s"no committed catalog v$v under $root")
      parseCat(new String(Files.readAllBytes(p), StandardCharsets.UTF_8))
    }

  private[sources] def tableRoot(root: String, table: String): String =
    Paths.get(root, table).toString

  /** The table's manifest as pinned by a catalog version. None when the
    * catalog (at that version) does not know the table. */
  def tableManifest(root: String, table: String,
      version: Option[Int] = None): Option[SnapshotStore.Manifest] =
    snapshot(root, version).flatMap(_.tables.get(table)).map { rel =>
      val tr = tableRoot(root, table)
      require(Files.exists(Paths.get(tr, rel)),
        s"catalog names a missing manifest: ${Paths.get(tr, rel)}")
      readStaged(tr, rel)
    }

  /** Catalog-pinned table read: resolve the catalog version ONCE, then
    * the named manifest's exact file list — the cross-table consistency
    * contract: two [[readTable]]s at one `version` can never observe a
    * transaction half-applied. */
  def readTable(spark: SparkSession, root: String, table: String,
      version: Option[Int] = None): DataFrame = {
    val m = tableManifest(root, table, version).getOrElse(
      sys.error(s"catalog under $root has no table $table"))
    val schema = StructType.fromDDL(m.schemaDdl)
    val tr = tableRoot(root, table)
    val files = SnapshotStore.allFiles(tr, m)
    val base =
      if (files.isEmpty)
        spark.createDataFrame(spark.sparkContext
          .emptyRDD[org.apache.spark.sql.Row], schema)
      else
        spark.read.schema(schema)
          .parquet(files.map(f => Paths.get(tr, f).toString): _*)
    // mapped tables present the logical view (rename/drop projection)
    // over the physical fold — identity when unmapped
    SnapshotStore.presentLogical(
      SnapshotStore.applyLayers(spark, tr, m, schema, base), m)
  }

  /** [[readTable]] with [[SnapshotStore.readWhere]]-style file skipping
    * off the staged manifest's stats sidecar (and, for segmented
    * tables, segment-level summary pruning — the same shared
    * two-level prune). */
  def readTableWhere(spark: SparkSession, root: String, table: String,
      pred0: SnapshotStore.StatsPred, version: Option[Int] = None)
      : (DataFrame, SnapshotStore.ScanReport) = {
    val m = tableManifest(root, table, version).getOrElse(
      sys.error(s"catalog under $root has no table $table"))
    // predicates arrive in LOGICAL names; stats/blooms/files speak
    // physical — translate once, prune and filter physically, present
    // logically at the end
    val pred = SnapshotStore.predToPhysical(pred0, m)
    val schema = StructType.fromDDL(m.schemaDdl)
    val tr = tableRoot(root, table)
    val (keep, _, report0) = SnapshotStore.pruneScan(tr, m, schema, pred)
    val base =
      if (keep.isEmpty)
        spark.createDataFrame(spark.sparkContext
          .emptyRDD[org.apache.spark.sql.Row], schema)
      else
        spark.read.schema(schema)
          .parquet(keep.map(f => Paths.get(tr, f).toString): _*)
    // add-only layers (catalog appends on a layered table) prune
    // through their own sidecars, same soundness as the table layer's
    val (mp, lyListed, lyOpened) =
      SnapshotStore.pruneAddOnlyLayers(tr, m, schema, pred)
    val report = report0.copy(
      filesListed = report0.filesListed + lyListed,
      filesOpened = report0.filesOpened + lyOpened)
    (SnapshotStore.presentLogical(
      SnapshotStore.applyLayers(spark, tr, mp, schema, base)
        .filter(SnapshotStore.predColumn(pred)), m), report)
  }

  /** Atomically commit `writes` (table → frame + mode) as ONE catalog
    * version. Appends rebase across concurrent winners exactly like the
    * table layer; the whole transaction publishes through one hard
    * link, so readers at any catalog version see all of it or none.
    * Returns the committed catalog version. */
  def commit(root: String,
      writes: Map[String, (DataFrame, Mode)]): Int = {
    require(writes.nonEmpty, "empty catalog commit")
    // 1. the expensive, coordination-free part: data files + stats, once
    val staged = writes.map { case (t, (df0, mode)) =>
      checkName(t)
      val tr = tableRoot(root, t)
      // a mapped table's APPEND arrives in LOGICAL names; files must
      // carry the frozen PHYSICAL names (translation at staging is
      // race-safe: physical names never change, so a concurrent
      // rename between staging and publish cannot invalidate it).
      // Overwrites stay as-given — a full rewrite MATERIALIZES the
      // mapping (logical names become the new physical schema).
      val df = mode match {
        case Append => tableManifest(root, t) match {
          case Some(m0) => SnapshotStore.toPhysical(df0, m0)
          case None => df0
        }
        case Overwrite => df0
      }
      (t, mode, df.schema, SnapshotStore.newFiles(df, tr))
    }.toSeq
    // 2. the retry loop: tiny staged manifests against the current head
    SnapshotStore.retrying(s"catalog commit under $root") {
      val cur = snapshot(root)
      val tables = staged.foldLeft(cur.fold(Map.empty[String, String])(
          _.tables)) { case (acc, (t, mode, schema, add)) =>
        val tr = tableRoot(root, t)
        val baseM = cur.flatMap(_.tables.get(t)).map(readStaged(tr, _))
        val m = mode match {
          case Overwrite =>
            SnapshotStore.rewrite(baseM.fold(-1)(_.version), schema.toDDL,
              add.files, add.sidecar)
          case Append =>
            baseM.foreach(m0 => require(
              SnapshotStore.appendCompatible(
                SnapshotStore.appendPhysicalDdl(m0), schema),
              s"catalog append schema mismatch on $t: table has " +
                s"[${SnapshotStore.appendPhysicalDdl(m0)}], " +
                s"append has [${schema.toDDL}]"))
            // a LAYERED table takes the add-only-layer branch: composing
            // into base files would silently DROP the layer chain (the
            // bug the q135 gate caught)
            SnapshotStore.appendTransform(add,
              baseM.getOrElse(SnapshotStore.noTable(schema.toDDL)))
        }
        acc + (t -> stage(tr, m))
      }
      val v = cur.fold(-1)(_.version) + 1
      if (publishCat(root, CatalogSnapshot(v, tables))) Some(v) else None
    }
  }

  /** Table names are single path segments: a whitelist, not a
    * blacklist — "." / ".." / "" / backslashes would make tableRoot
    * escape or collide with the catalog's own dirs. */
  private def checkName(t: String): Unit =
    require(t.matches("[A-Za-z0-9._-]+") && t != "." && t != ".." &&
        !t.startsWith("_"),
      s"bad table name: '$t' (need [A-Za-z0-9._-]+, not '.'/'..', " +
        "no leading '_')")

  /** A staged manifest of the table at `tr`. */
  private def readStaged(tr: String, rel: String): SnapshotStore.Manifest =
    SnapshotStore.parse(new String(Files.readAllBytes(Paths.get(tr, rel)),
      StandardCharsets.UTF_8))

  /** Write `m` as a fresh staged manifest of the table at `tr` and return
    * its table-relative path — invisible to every reader until a catalog
    * version names it. */
  private def stage(tr: String, m: SnapshotStore.Manifest): String = {
    val rel = s"_manifests/staged-${java.util.UUID.randomUUID()}.json"
    val p = Paths.get(tr, rel)
    Files.createDirectories(p.getParent)
    Files.write(p, SnapshotStore.render(m).getBytes(StandardCharsets.UTF_8))
    rel
  }

  /** THE SINGLE-TABLE CATALOG COMMIT under [[SnapshotStore.retrying]]'s
    * protocol: read `table`'s manifest at the catalog head (None when
    * the head does not name it), derive the next manifest, stage it and
    * publish the next catalog version naming it. `next` returning None
    * commits nothing and answers the head version. With `expectedRel`
    * the commit is a COMPARE-AND-SWAP: when the head names another
    * manifest for the table, the caller's result was computed from a
    * stale base and the commit answers None so the caller can recompute
    * (the restart rule); concurrent commits to OTHER tables rebase. */
  private def commitTable(root: String, table: String, what: String,
      expectedRel: Option[String] = None)(
      next: Option[SnapshotStore.Manifest] =>
        Option[SnapshotStore.Manifest]): Option[Int] = {
    val tr = tableRoot(root, table)
    SnapshotStore.retrying(s"catalog $what under $root") {
      val cur = snapshot(root)
      val headRel = cur.flatMap(_.tables.get(table))
      val head = cur.fold(-1)(_.version)
      if (expectedRel.nonEmpty && headRel != expectedRel) {
        if (headRel.isEmpty) sys.error(s"catalog under $root has no table $table")
        Some(None) // stale base: recompute
      } else next(headRel.map(readStaged(tr, _))) match {
        case None => Some(Some(head))
        case Some(m) =>
          val tables = cur.fold(Map.empty[String, String])(_.tables)
          if (publishCat(root, CatalogSnapshot(head + 1,
              tables + (table -> stage(tr, m))))) Some(Some(head + 1))
          else None
      }
    }
  }

  /** The manifest of a table the commit requires to exist. */
  private def named(root: String, table: String)(
      base: Option[SnapshotStore.Manifest]): SnapshotStore.Manifest =
    base.getOrElse(sys.error(s"catalog under $root has no table $table"))

  /** CREATE-ONLY catalog commit — the race-free twin of
    * `commit(Overwrite)` for `CREATE TABLE`: the transaction FAILS
    * ([[TableExistsException]]) when the table name already exists at
    * the rebased head, so two concurrent CREATE TABLEs get one winner
    * and one loud loser instead of a silent overwrite (the same
    * one-winner arbiter [[SnapshotStore.commitCreate]] gives
    * SaveMode.ErrorIfExists — here the arbiter is the catalog publish:
    * a lost race re-checks existence against the NEW head before
    * retrying). Returns the committed catalog version. */
  def commitCreate(root: String, table: String, df: DataFrame): Int = {
    checkName(table)
    def already = new TableExistsException(
      s"catalog under $root already has table $table " +
        "(create-only commit refuses to overwrite)")
    // fast-fail BEFORE paying the data write; the in-loop re-check is
    // what makes the commit race-free
    if (snapshot(root).exists(_.tables.contains(table))) throw already
    val add = SnapshotStore.newFiles(df, tableRoot(root, table))
    commitTable(root, table, "commitCreate") { base =>
      if (base.nonEmpty) throw already
      Some(SnapshotStore.rewrite(-1, df.schema.toDDL, add.files, add.sidecar))
    }.get
  }

  /** ADOPT an existing TABLE-LAYER table into the catalog: the next
    * catalog version names a staged COPY of the table's current
    * manifest — pure metadata, zero data movement, and the table-layer
    * version chain stays intact (mixed management: expiring table-layer
    * versions remains [[SnapshotStore.vacuum]]'s job). The table dir
    * must already live at `<root>/<table>`. This is how a 10⁵-file
    * table built through the table-layer commit protocol becomes
    * SQL-addressable by name without rewriting a byte. Refuses when the
    * catalog already names the table. Returns the catalog version. */
  def adopt(root: String, table: String): Int = {
    val tr = tableRoot(root, table)
    val m = SnapshotStore.snapshot(tr).getOrElse(sys.error(
      s"adopt: no committed table-layer snapshot under $tr"))
    commitTable(root, table, "adopt") { base =>
      if (base.nonEmpty) throw new TableExistsException(
        s"catalog under $root already names $table")
      Some(m)
    }.get
  }

  /** IDEMPOTENT append of ALREADY-WRITTEN data files — the driver half
    * of the DSv2 streaming sink (`writeStream.toTable`): executors
    * wrote `files` under `<root>/<table>/` themselves (the data never
    * crosses the driver), and this publishes them as ONE catalog
    * transaction with [[SnapshotStore.commitAppendOnce]]'s replay
    * contract — if any RETAINED catalog version's manifest for this
    * table already carries `txn`, the commit is a no-op returning None
    * and the (re-written) staged files are deleted as this attempt's
    * own scratch. The manifest is [[SnapshotStore.appendTransform]]'s,
    * identical to [[commit]]'s append. The txn-dedup scan walks
    * catalog versions newest-first, parsing each DISTINCT manifest of
    * this table once. */
  def commitStagedFilesOnce(root: String, table: String,
      files: Seq[String], schemaDdl: String, txn: String): Option[Int] = {
    require(txn.nonEmpty, "txn id must be non-empty")
    val tr = tableRoot(root, table)
    def txnSeen(): Boolean = {
      val seenRels = scala.collection.mutable.Set[String]()
      versions(root).reverseIterator.exists { v =>
        snapshot(root, Some(v)).get.tables.get(table).exists { rel =>
          seenRels.add(rel) && Files.exists(Paths.get(tr, rel)) &&
            readStaged(tr, rel).txn == txn
        }
      }
    }
    def dropStaged(): Unit = files.foreach(f =>
      Files.deleteIfExists(Paths.get(tr, f)))
    if (txnSeen()) { dropStaged(); return None }
    val spark = SparkSession.active
    val schema = StructType.fromDDL(schemaDdl)
    val add = new SnapshotStore.NewFiles(spark, tr, files,
      SnapshotStore.harvestStats(spark, tr, files))
    var attempts = 0
    var replayed = false
    val v = commitTable(root, table, "commitStagedFilesOnce") { base =>
      val baseM = named(root, table)(base)
      // staged files were executor-encoded with the LOGICAL schema; a
      // mapped table needs physical names (the builder-side guard in
      // GraftSqlTable refuses earlier — this backstops a mapping that
      // landed between analysis and the epoch commit)
      require(baseM.logical.isEmpty && baseM.dropped.isEmpty,
        s"streaming append into $table with a column mapping " +
          "(RENAME/DROP COLUMN) — run CALL graft.system.optimize to " +
          "materialize the mapping first")
      require(SnapshotStore.appendCompatible(baseM.schemaDdl, schema),
        s"streaming append schema mismatch on $table: table has " +
          s"[${baseM.schemaDdl}], batch has [$schemaDdl]")
      attempts += 1
      // lost-race recheck: an interleaved commit may carry this txn
      if (attempts > 1 && txnSeen()) { replayed = true; None }
      else Some(SnapshotStore.appendTransform(add, baseM).copy(txn = txn))
    }
    if (replayed) { dropStaged(); None } else v
  }

  /** COMPARE-AND-SWAP overwrite — the read-modify-write commit under
    * SQL MERGE INTO / UPDATE (copy-on-write lane): replace `table`'s
    * content with `df` as one catalog transaction IFF the table's
    * manifest at the catalog head is still `expectedRel` (the manifest
    * the caller computed `df` FROM); otherwise None and the caller
    * recomputes from the new head ([[commitTable]]). Data files are
    * written once. */
  def replaceTableIf(root: String, table: String, expectedRel: String,
      df: DataFrame): Option[Int] = {
    val add = SnapshotStore.newFiles(df, tableRoot(root, table))
    commitTable(root, table, "replaceTableIf", Some(expectedRel)) { base =>
      Some(SnapshotStore.rewrite(named(root, table)(base).version,
        df.schema.toDDL, add.files, add.sidecar))
    }
  }

  /** RESTORE one table to its content at catalog version
    * `toCatalogVersion` — Delta's `RESTORE TABLE ... VERSION AS OF`:
    * a NEW catalog commit whose manifest for the table is a staged COPY
    * of the target version's (files/segments/layers/blooms/stats all by
    * reference — data files are immutable, so restore is PURE METADATA,
    * O(manifest bytes) regardless of table size). History is preserved:
    * every interim version stays travelable, and the restore itself
    * appends a version rather than rewriting any. The copy's table
    * version advances past the current head's (a restore is a new
    * commit, not a cursor rewind) and its writer-txn clears (txn marks
    * exactly one commit's idempotency; a copy must not replay-dedup
    * against the commit it copied). Returns the new CATALOG version. */
  def restoreTable(root: String, table: String,
      toCatalogVersion: Int): Int = {
    val tr = tableRoot(root, table)
    val target = snapshot(root, Some(toCatalogVersion)).getOrElse(
      sys.error(s"restore: catalog under $root has no version " +
        s"$toCatalogVersion"))
    val targetM = readStaged(tr, target.tables.getOrElse(table, sys.error(
      s"restore: table $table does not exist at catalog version " +
        s"$toCatalogVersion")))
    // no-op when the head already HAS the target's content (compare
    // everything but the commit bookkeeping — a restore of a restore
    // must not stack versions)
    def content(m: SnapshotStore.Manifest) =
      m.copy(version = 0, base = 0, txn = "", ts = 0L)
    commitTable(root, table, "restore") { base =>
      val headM = named(root, table)(base)
      if (content(headM) == content(targetM)) None
      else Some(targetM.copy(version = headM.version + 1,
        base = headM.version, txn = ""))
    }.get
  }

  /** UPDATE as the LAYER PAIR in ONE catalog transaction — the
    * O(changes)-write lane under SQL UPDATE when the predicate
    * translates to the stats language: the next manifest is
    * [[SnapshotStore.deleteTransform]] of the base (stats-proven
    * fully-matching files drop, one data-less predicate layer removes
    * the old versions of the matching rows) PLUS one add-only layer
    * carrying `updated` (the new versions, with harvested stats so they
    * stay prunable). Readers at the new version fold
    * `...base, NOT(pred), +updated...` — exactly UPDATE semantics; the
    * base is never rewritten. Same CAS contract as [[replaceTableIf]]:
    * `updated` was computed FROM `expectedRel`, so a concurrent commit
    * to the table fails the swap with None and the caller recomputes. */
  def updateWhereIf(root: String, table: String, expectedRel: String,
      pred0: SnapshotStore.StatsPred, updated0: DataFrame)
      : Option[Int] = {
    val tr = tableRoot(root, table)
    // the caller computed pred/updated against the LOGICAL view of
    // expectedRel's manifest; layer files and the stats walk are
    // physical — translate both against that same manifest (race-safe:
    // any concurrent commit fails the CAS anyway)
    val expM = readStaged(tr, expectedRel)
    val pred = SnapshotStore.predToPhysical(pred0, expM)
    val add = SnapshotStore.newFiles(
      SnapshotStore.toPhysical(updated0, expM), tr)
    val layerStats = if (add.files.isEmpty) "" else add.sidecar
    commitTable(root, table, "updateWhereIf", Some(expectedRel)) { base =>
      val next = SnapshotStore.deleteTransform(tr, named(root, table)(base),
        pred)
      Some(next.copy(layers = next.layers :+
        SnapshotStore.MergeLayer("", add.files, layerStats)))
    }
  }

  /** Predicate-level DELETE on a catalog table — the catalog-published
    * twin of [[SnapshotStore.deleteWhere]] (same manifest transform:
    * stats-proven fully-covered files drop, one data-less predicate
    * layer appends), landing as a NEW CATALOG VERSION through a staged
    * manifest. Pure metadata; pinned catalog readers are untouched.
    * Returns the committed catalog version. */
  def deleteWhere(root: String, table: String,
      pred0: SnapshotStore.StatsPred): Int =
    commitTable(root, table, "deleteWhere") { base =>
      val baseM = named(root, table)(base)
      // LOGICAL predicate → physical (stats walk + stored layer pred)
      Some(SnapshotStore.deleteTransform(tableRoot(root, table), baseM,
        SnapshotStore.predToPhysical(pred0, baseM)))
    }.get

  /** DATA-LESS SCHEMA EVOLUTION on a catalog table — `ALTER TABLE ...
    * ADD COLUMNS`: the next catalog version names a staged manifest
    * with the WIDENED schema over the SAME files/segments/layers —
    * pure metadata; every existing file backfills the new columns as
    * NULL at read (parquet missing-column semantics), which is why
    * added columns must be nullable. Pinned catalog readers keep the
    * narrow schema. Returns the committed catalog version. */
  def evolveSchema(root: String, table: String,
      added: Seq[org.apache.spark.sql.types.StructField]): Int = {
    require(added.nonEmpty, "evolveSchema: no columns to add")
    require(added.forall(_.nullable),
      "added columns must be NULLABLE — existing files backfill NULL")
    commitTable(root, table, "evolveSchema") { base =>
      val baseM = named(root, table)(base)
      val schema = StructType.fromDDL(baseM.schemaDdl)
      // "taken" covers the PHYSICAL names (including dropped columns,
      // whose bytes persist in old files and would leak back under a
      // re-used name — OPTIMIZE materializes the mapping and frees the
      // name) and the LOGICAL names of the user view
      val taken = schema.fieldNames.toSeq ++ baseM.logical.map(_._2)
      val dup = added.map(_.name).intersect(taken)
      require(dup.isEmpty,
        s"evolveSchema: column name(s) already in use on $table " +
          s"(current or dropped — OPTIMIZE to free dropped names): " +
          dup.mkString(", "))
      Some(SnapshotStore.bump(baseM).copy(
        schemaDdl = StructType(schema.fields.toSeq ++ added).toDDL))
    }.get
  }

  /** `ALTER TABLE ... RENAME COLUMN` — PURE METADATA at any table size
    * ([[SnapshotStore.logicalSchema]]'s frozen-physical-name model):
    * the next catalog version's manifest carries the same
    * files/segments/layers/blooms/stats with one more (physical →
    * logical) pair; no file is touched, every sidecar keeps pruning,
    * pinned readers keep the old name. Returns the catalog version. */
  def renameColumn(root: String, table: String, from: String,
      to: String): Int =
    alterMapping(root, table, "renameColumn") { baseM =>
      val logi = SnapshotStore.logicalSchema(baseM)
      require(logi.fieldNames.contains(from),
        s"renameColumn: no column '$from' on $table " +
          s"(have: ${logi.fieldNames.mkString(", ")})")
      require(from != to, s"renameColumn: '$from' to itself")
      // `from` is a logical name: find its physical twin, replace or
      // add the pair; a rename BACK to the own physical name erases it
      val phys = baseM.logical.find(_._2 == from).map(_._1)
        .getOrElse(from)
      val taken = (logi.fieldNames.toSeq ++
        StructType.fromDDL(baseM.schemaDdl).fieldNames)
        .filterNot(_ == phys)
      require(!taken.contains(to),
        s"renameColumn: name '$to' already in use on $table " +
          "(current, physical, or dropped — OPTIMIZE frees old names)")
      val kept = baseM.logical.filterNot(_._1 == phys)
      baseM.copy(logical =
        if (to == phys) kept else kept :+ (phys -> to))
    }

  /** `ALTER TABLE ... DROP COLUMN` — pure metadata like
    * [[renameColumn]]: the physical column (and its bytes) stay in the
    * files but leave the logical view; Catalyst column pruning keeps
    * them unread. The name stays RESERVED (re-adding it would resurrect
    * old values from pre-drop files) until a rewrite materializes the
    * mapping. Returns the catalog version. */
  def dropColumn(root: String, table: String, name: String): Int =
    alterMapping(root, table, "dropColumn") { baseM =>
      val logi = SnapshotStore.logicalSchema(baseM)
      require(logi.fieldNames.contains(name),
        s"dropColumn: no column '$name' on $table " +
          s"(have: ${logi.fieldNames.mkString(", ")})")
      require(logi.length > 1,
        s"dropColumn: cannot drop the last column of $table")
      val phys = baseM.logical.find(_._2 == name).map(_._1)
        .getOrElse(name)
      baseM.copy(logical = baseM.logical.filterNot(_._1 == phys),
        dropped = baseM.dropped :+ phys)
    }

  /** The metadata-only column-mapping commits. */
  private def alterMapping(root: String, table: String, op: String)
      (transform: SnapshotStore.Manifest => SnapshotStore.Manifest)
      : Int =
    commitTable(root, table, op) { base =>
      Some(SnapshotStore.bump(transform(named(root, table)(base))))
    }.get

  /** DROP a table from the catalog: the next catalog version simply no
    * longer names it — data and staged manifests stay on disk until
    * [[vacuum]]'s retention expires the versions that still reach them
    * (so pinned readers at older catalog versions are untouched, and
    * an accidental drop is recoverable by reading at the pre-drop
    * version). Returns false when the catalog does not know the table
    * (the [[org.apache.spark.sql.connector.catalog.TableCatalog]]
    * dropTable contract). */
  def drop(root: String, table: String): Boolean =
    SnapshotStore.retrying(s"catalog drop under $root") {
      snapshot(root) match {
        case Some(cur) if cur.tables.contains(table) =>
          if (publishCat(root, CatalogSnapshot(cur.version + 1,
              cur.tables - table))) Some(true) else None
        case _ => Some(false)
      }
    }

  /** Catalog-level GC — the reachability walk the table layer's
    * [[SnapshotStore.vacuum]] explicitly refuses to run on a
    * catalog-managed dir (it cannot know which staged manifests a
    * catalog version still names). Retains the newest `keepVersions`
    * catalog versions; for every table directory under the root, a
    * staged manifest is LIVE iff a retained catalog version names it,
    * and reachability closes over its segments and merge layers exactly
    * as at the table layer. Dead staged manifests (lost-race commit
    * attempts, expired catalog versions' publish units), dead sidecars
    * and dead data files are deleted, then the expired catalog version
    * files themselves. A table dir that ALSO carries committed v<N>.json
    * table-layer versions (mixed management) keeps everything those
    * reach — expiring table-layer versions is [[SnapshotStore.vacuum]]'s
    * job with its own retention, never this one's. Readers pinned to a
    * RETAINED catalog version are untouched; pinning past the horizon is
    * the same documented contract as the table layer's.
    *
    * `stagedGraceMs` is the IN-FLIGHT-COMMIT guard (Delta VACUUM's
    * retention-hours idea applied to publish units): a concurrent
    * [[commit]] writes staged manifests + data in stage 1 BEFORE its
    * catalog publish, so a staged manifest no retained catalog version
    * names yet may be a live transaction, not garbage. Any staged
    * manifest younger (by mtime) than the grace window therefore counts
    * as LIVE — it and everything it references survive the sweep; once
    * it ages past the window unpublished, it is a dead commit attempt
    * and goes. Pass 0 ONLY when no catalog commit can be concurrent
    * with the vacuum. Returns the deleted data-file count. */
  def vacuum(root: String, keepVersions: Int = 2,
      stagedGraceMs: Long = 24L * 3600 * 1000): Int = {
    require(keepVersions >= 1, "must retain at least the current version")
    require(stagedGraceMs >= 0, "stagedGraceMs must be >= 0")
    val now = System.currentTimeMillis()
    val vs = versions(root)
    require(vs.nonEmpty,
      s"catalog vacuum of a root with no committed catalog versions " +
        s"under $root — refusing to treat every table as unreachable")
    val keep = vs.takeRight(keepVersions).toSet
    val retained = vs.filter(keep).map(v => snapshot(root, Some(v)).get)
    var deleted = 0
    val dirs = Files.list(Paths.get(root))
    try {
      val i = dirs.iterator().asInstanceOf[java.util.Iterator[Path]]
      while (i.hasNext) {
        val d = i.next()
        val name = d.getFileName.toString
        // a table dir is any non-catalog dir carrying a _manifests tier;
        // unknown dirs (no manifests) are not ours to touch
        if (Files.isDirectory(d) && !name.startsWith("_") &&
            Files.isDirectory(d.resolve("_manifests"))) {
          val tr = d.toString
          val named: Set[String] =
            retained.flatMap(_.tables.get(name)).toSet
          val staged = SnapshotStore.stagedManifests(tr)
          // a retained catalog version naming a manifest that is not on
          // disk is corruption — sweeping ANYTHING here could orphan
          // that version's data, so fail before deleting a single file
          val missing = named.filterNot(staged.contains)
          require(missing.isEmpty,
            s"retained catalog version names missing staged manifests " +
              s"under $tr: ${missing.mkString(", ")}")
          // grace window: a young staged manifest may belong to an
          // in-flight commit whose publishCat has not landed yet —
          // treating it as dead would let this sweep delete files a
          // just-published catalog version references (torn table)
          val inGrace: Set[String] = staged.keySet.filter { rel =>
            !named(rel) && {
              val p = Paths.get(tr, rel)
              Files.exists(p) &&
                now - Files.getLastModifiedTime(p).toMillis < stagedGraceMs
            }
          }
          val liveStaged = named ++ inGrace
          val tableLayerMs = SnapshotStore.versions(tr)
            .flatMap(v => SnapshotStore.snapshot(tr, Some(v)))
          val reachable =
            liveStaged.toSeq.flatMap(staged.get) ++ tableLayerMs
          deleted += SnapshotStore.sweepTableDir(tr, reachable,
            keepStaged = Some(liveStaged))
        }
      }
    } finally dirs.close()
    vs.filterNot(keep).foreach(v => Files.deleteIfExists(catPath(root, v)))
    deleted
  }

  /** Publish catalog version `s.version` (one winner per version, the
    * table layer's primitive); publish IS the commit instant, so the
    * wall-clock TIMESTAMP AS OF resolves against is stamped here. */
  private def publishCat(root: String, s: CatalogSnapshot): Boolean =
    SnapshotStore.linkNew(catPath(root, s.version),
      render(s.copy(ts = System.currentTimeMillis())))
}
