package graft.sources

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Minimal ACID table layer over immutable parquet data files — the
  * manifest/snapshot commit protocol (Iceberg/Delta-class semantics,
  * reduced to the core) that the plain two-phase-swap store
  * ([[graft.finance.Store.save]]/[[graft.finance.Store.saveBucketed]])
  * lacks: concurrent writers serialize through an atomic version
  * publish, and a reader pinned to a snapshot can never observe a torn
  * or half-replaced table, even while writers commit and old versions
  * are vacuumed around it.
  *
  * Layout under a table root:
  * {{{
  *   <root>/data/<uuid>/part-*.parquet    immutable once referenced
  *   <root>/_manifests/v<N>.json          snapshot N's complete file list
  * }}}
  *
  * The INVARIANTS that make it ACID on a filesystem with atomic
  * hard-link creation (any POSIX local/NFS mount; object stores want a
  * conditional-PUT equivalent):
  *
  *   - Data files are IMMUTABLE and WRITE-ONCE: a commit writes its data
  *     under a fresh `data/<uuid>/` directory, never touching files any
  *     earlier manifest references. Overwrites REFERENCE new files; they
  *     do not delete old ones (only [[vacuum]] deletes, and only files
  *     unreachable from every retained manifest).
  *   - A snapshot is ONE manifest file naming its complete file list
  *     (plus the schema as DDL, so an empty table round-trips). Readers
  *     resolve `max N` once, then read exactly those files — a reader
  *     holding snapshot N is immune to every later commit by
  *     construction (isolation), and since the manifest is published
  *     after its data files are fully written, the files it names are
  *     always complete (no torn reads — durability is the data files'
  *     fsync plus the link).
  *   - The publish is `Files.createLink(v<N>.json, tmp)` — hard-link
  *     creation is ATOMIC and FAILS if the target exists, which is the
  *     whole concurrency-control protocol: two writers racing to commit
  *     version N produce one winner and one loser; the loser re-reads
  *     the new current snapshot, REBASES (append re-lists the base
  *     files; overwrite just bumps the version) and retries at N+1.
  *     Optimistic concurrency, serializable for append/overwrite
  *     because both commute only through the version chain.
  *
  * The full surface beyond the core protocol: column min/max stats +
  * scan-time file skipping ([[readWhere]], sidecars harvested from
  * parquet footers at commit time); MANIFEST COMPACTION — the
  * Iceberg-style manifest-list tier ([[appendSegment]] /
  * [[rewriteManifests]] / [[SegmentRef]]) so a 10⁵-file table commits
  * O(touched segments) of metadata and range reads parse only
  * intersecting segments; row-level MERGE both ways — copy-on-write
  * [[merge]] (O(base+changes), folds everything into fresh base files)
  * and [[mergeOnRead]] (O(changes): equality-delete layers applied as
  * an anti-join at read, folded away by [[optimize]]); and multi-table
  * atomic commits in [[Catalog]]. What remains out of scope: positional
  * deletion vectors (the keyed layer model covers the same workload
  * without tracking row ordinals) and an object-store conditional-PUT
  * publish backend.
  */
object SnapshotStore {

  /** One snapshot's facts: version, the files it references (relative to
    * the table root), the schema DDL, the parent version (-1 for the
    * first), an optional writer TRANSACTION id ("" = none) — the
    * Delta-`txn`-action pattern a replayed streaming micro-batch uses to
    * make its commit idempotent ([[commitAppendOnce]]) — and an optional
    * STATS SIDECAR path ("" = none): a write-once TSV of per-file,
    * per-column (rows, nulls, min, max) harvested from the parquet
    * FOOTERS at commit time (zero extra data scan), which
    * [[readWhere]] consults to open only files whose ranges can
    * intersect a predicate. The sidecar is immutable like data files
    * (fresh uuid name per commit attempt) so a lost version race can
    * never pair one commit's manifest with another's stats.
    *
    * `segments` is the MANIFEST-LIST tier (Iceberg's manifest-list /
    * manifest-file split, reduced to its core): instead of naming every
    * data file inline, a snapshot may reference immutable SEGMENT files
    * (`_manifests/seg-<uuid>.json`), each naming a file subset plus its
    * own stats sidecar. The complete file set is `files` ++ the
    * segments'. Why the tier exists: at 10⁵-10⁶ files, one flat list
    * makes every commit rewrite O(all files) of metadata and every read
    * parse it — with segments, [[appendSegment]] writes O(new files)
    * metadata (base segments carry forward BY REFERENCE), and
    * [[readWhere]] prunes whole segments from the aggregated column
    * ranges each [[SegmentRef]] carries inline, parsing only segments a
    * predicate can intersect. */
  final case class Manifest(version: Int, base: Int, schemaDdl: String,
      files: Seq[String], txn: String = "", statsFile: String = "",
      segments: Seq[SegmentRef] = Nil, layers: Seq[MergeLayer] = Nil,
      blooms: Seq[BloomIndex] = Nil, cluster: Seq[String] = Nil,
      ts: Long = 0L, logical: Seq[(String, String)] = Nil,
      dropped: Seq[String] = Nil)

  /** One FILE-LEVEL BLOOM INDEX over a column — the point-lookup
    * complement to the min/max sidecar: after a z-order/range layout
    * clusters ONE key, every other column's per-file ranges overlap and
    * stats cannot skip an equality probe on them; a per-file Bloom
    * bitmap can (no false negatives, so skipping is sound — the
    * Iceberg/Delta bloom-filter-index idea as an immutable sidecar).
    * `file` names the sidecar mapping data-file path → bitmap; a data
    * file ABSENT from the sidecar (added after indexing) is
    * conservatively opened, so an index is never invalidated by later
    * commits — only made less effective until re-indexed. */
  final case class BloomIndex(column: String, logBits: Int, k: Int,
      file: String, maintain: Boolean = false)

  /** One MERGE-ON-READ layer — the O(changes) alternative to the
    * copy-on-write [[merge]] (Iceberg's equality-delete / Delta's
    * deletion-vector idea, keyed rather than positional): `files` hold
    * the changelog WINNERS (one row per key: the full payload plus a
    * `graft_del` tombstone flag), and a read folds the layers in
    * commit order over the base —
    * `acc = (acc ANTI-JOIN layer keys) ∪ layer's non-deleted rows` —
    * so an update suppresses the stale base row, a tombstone suppresses
    * without replacing, and an insert just lands. A layer with
    * `key == ""` and no `pred` is ADD-ONLY (a plain append on a layered
    * table: no keys suppressed, files carry exactly the table schema,
    * no flag column). A layer with `pred` non-empty is a PREDICATE
    * DELETE ([[deleteWhere]]): NO data files at all — the serialized
    * [[StatsPred]] applies at its position in the fold as
    * `filter(NOT coalesce(pred, false))` (SQL DELETE semantics: only
    * rows where the predicate is TRUE go; NULL keeps). Layers accrete
    * per [[mergeOnRead]]/[[deleteWhere]] and FOLD AWAY on [[optimize]]
    * or a copy-on-write [[merge]] — read amplification is one small
    * anti-join (keyed) or one fused filter (predicate) per accreted
    * layer, the price of not rewriting an O(base) table for an
    * O(changes) change. */
  final case class MergeLayer(key: String, files: Seq[String],
      statsFile: String = "", pred: String = "")

  /** The flag column a merge-on-read layer's files carry alongside the
    * table schema. */
  private[sources] val LayerDelCol = "graft_del"

  /** A manifest-list entry: the segment file's root-relative path, how
    * many data files it names (so [[ScanReport.filesListed]] is exact
    * without parsing skipped segments), and the segment-level column
    * summary — per column, (total rows, summed nulls, min of mins, max
    * of maxes) aggregated over the segment's files, Conservative like
    * everything in the stats layer: a column any member file lacks
    * usable stats for records nothing, and an empty summary never
    * skips. */
  final case class SegmentRef(path: String, nFiles: Int,
      cols: Map[String, ColStats])

  /** Per-column file statistics: the file's total row count, the
    * column's null count (None when any row group left it unset), and
    * the min/max (None when any row group with non-null values lacked
    * them — absent stats NEVER allow a skip). min/max are canonical
    * strings decoded from the parquet logical type; [[readWhere]]
    * re-types them against the table schema. */
  final case class ColStats(rows: Long, nulls: Option[Long],
      min: Option[String], max: Option[String])

  /** Reserved sidecar pseudo-column carrying the data file's BYTE SIZE
    * in its `rows` field (harvested at commit; exact forever — files
    * are immutable). Flows through every stats compose/rewrite like any
    * column; never consulted by predicate logic (predicates name schema
    * columns) and excluded from segment summaries. */
  private[sources] val SizeKey = "_graft:size"

  /** Per-file byte sizes recorded in a manifest's stats sidecar (inline
    * files only; see [[allFileSizes]] for segments). Files committed
    * before size recording are simply absent — callers fall back to a
    * live stat. */
  def fileSizes(root: String, m: Manifest): Map[String, Long] =
    fileStats(root, m).flatMap { case (f, cols) =>
      cols.get(SizeKey).map(f -> _.rows) }

  /** [[fileSizes]] across the inline sidecar AND every segment's. */
  def allFileSizes(root: String, m: Manifest): Map[String, Long] =
    fileSizes(root, m) ++ m.segments.flatMap { ref =>
      fileSizes(root, readSegmentManifest(root, ref))
    }

  // ------------------------------------------------------ column mapping
  // Catalog-level RENAME COLUMN / DROP COLUMN are PURE METADATA because
  // physical file-column names FREEZE at each column's first commit (the
  // field-ID idea of Iceberg/Delta column mapping, with the name itself
  // as the immutable ID): `schemaDdl` always describes the files on
  // disk, so every stats sidecar, bloom index, layer key, clustering
  // spec, and pruning decision keeps operating in physical space
  // untouched; `logical` carries (physical → logical) renames where the
  // user-facing name differs, and `dropped` lists physical columns the
  // logical view projects out (their bytes stay in the files; Catalyst
  // column pruning keeps them unread). Copy-on-write rewrites
  // (OVERWRITE / MERGE / CALL optimize) write logical-named files and
  // publish mapping-free manifests — the rewrite MATERIALIZES the
  // mapping, which is also what unblocks re-using a dropped name.

  /** The user-facing schema of a manifest: physical minus `dropped`,
    * renamed through `logical`. Identity for unmapped manifests. */
  def logicalSchema(m: Manifest): StructType = {
    val ren = m.logical.toMap
    StructType(StructType.fromDDL(m.schemaDdl).fields.toSeq
      .filterNot(f => m.dropped.contains(f.name))
      .map(f => ren.get(f.name).map(n => f.copy(name = n)).getOrElse(f)))
  }

  /** Present a PHYSICAL-space frame (column order/names of
    * `m.schemaDdl`) as the logical view. No-op for unmapped manifests. */
  def presentLogical(df: DataFrame, m: Manifest): DataFrame =
    if (m.logical.isEmpty && m.dropped.isEmpty) df
    else {
      import org.apache.spark.sql.functions.col
      val ren = m.logical.toMap
      df.select(StructType.fromDDL(m.schemaDdl).fields.toSeq
        .filterNot(f => m.dropped.contains(f.name))
        .map(f => col(f.name).as(ren.getOrElse(f.name, f.name))): _*)
    }

  /** Rename a LOGICAL-space frame's columns to their physical names
    * (write-path inverse of [[presentLogical]] — column set/order is
    * the caller's contract). No-op for unmapped manifests. */
  def toPhysical(df: DataFrame, m: Manifest): DataFrame =
    if (m.logical.isEmpty) df
    else {
      import org.apache.spark.sql.functions.col
      val inv = m.logical.map(_.swap).toMap
      df.select(df.columns.toSeq.map(c =>
        col(c).as(inv.getOrElse(c, c))): _*)
    }

  /** Rewrite a predicate's LOGICAL column names to physical so the
    * stats/bloom walk (physical-keyed) and the pre-presentation row
    * filter see file-space names. Predicates over dropped columns
    * cannot arise (the logical view does not expose them). */
  def predToPhysical(p: StatsPred, m: Manifest): StatsPred =
    if (m.logical.isEmpty) p
    else {
      val inv = m.logical.map(_.swap).toMap
      def f(c: String): String = inv.getOrElse(c, c)
      def go(q: StatsPred): StatsPred = q match {
        case StatsPred.Eq(c, v)          => StatsPred.Eq(f(c), v)
        case StatsPred.Lt(c, v)          => StatsPred.Lt(f(c), v)
        case StatsPred.Le(c, v)          => StatsPred.Le(f(c), v)
        case StatsPred.Gt(c, v)          => StatsPred.Gt(f(c), v)
        case StatsPred.Ge(c, v)          => StatsPred.Ge(f(c), v)
        case StatsPred.Between(c, a, b)  => StatsPred.Between(f(c), a, b)
        case StatsPred.In(c, vs)         => StatsPred.In(f(c), vs)
        case StatsPred.IsNull(c)         => StatsPred.IsNull(f(c))
        case StatsPred.IsNotNull(c)      => StatsPred.IsNotNull(f(c))
        case StatsPred.And(a, b)         => StatsPred.And(go(a), go(b))
        case StatsPred.Or(a, b)          => StatsPred.Or(go(a), go(b))
      }
      go(p)
    }

  /** The schema an APPEND into a mapped table must carry after
    * [[toPhysical]]: physical minus dropped (new files simply omit
    * dropped columns; physical-space reads NULL-fill them and the
    * logical view projects them away). */
  private[sources] def appendPhysicalDdl(m: Manifest): String =
    if (m.dropped.isEmpty) m.schemaDdl
    else StructType(StructType.fromDDL(m.schemaDdl).fields.toSeq
      .filterNot(f => m.dropped.contains(f.name))).toDDL

  private def manifestDir(root: String): Path =
    Paths.get(root, "_manifests")

  private def manifestPath(root: String, v: Int): Path =
    manifestDir(root).resolve(s"v$v.json")

  // ---------------------------------------------------------- JSON codec
  // Hand-rolled on purpose: the manifest schema is four fields, the repo
  // takes no JSON dependency, and escaping covers the two values that can
  // hold arbitrary characters (schema DDL, file paths).

  private[sources] def esc(s: String): String = {
    val b = new StringBuilder(s.length + 8)
    s.foreach {
      case '"'  => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c    => b.append(c)
    }
    b.toString
  }

  private[sources] def unesc(s: String): String = {
    val b = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case '"'  => b.append('"');  i += 2
          case '\\' => b.append('\\'); i += 2
          case 'n'  => b.append('\n'); i += 2
          case 'r'  => b.append('\r'); i += 2
          case 't'  => b.append('\t'); i += 2
          case 'u'  =>
            b.append(Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar)
            i += 6
          case o    => b.append(o); i += 2
        }
      } else { b.append(c); i += 1 }
    }
    b.toString
  }

  private[sources] def render(m: Manifest): String = {
    val fs = m.files.map(f => "\"" + esc(f) + "\"").mkString(",")
    // segments render BEFORE files on purpose: the files parser captures
    // greedily to the final ']', which must be the files array's own
    val segs =
      if (m.segments.isEmpty) ""
      else m.segments.map { s =>
        s"""{"path":"${esc(s.path)}","nfiles":${s.nFiles},""" +
          s""""colstats":"${esc(renderColStatsTsv(s.cols))}"}"""
      }.mkString(""""segments":[""", ",", "],")
    // "ldata", not "lfiles": the files parser below keys on the first
    // `"files":[` occurrence, and "lfiles" would contain it as a
    // substring — layer arrays must never look like the files array
    val lys =
      if (m.layers.isEmpty) ""
      else m.layers.map { l =>
        val lf = l.files.map(f => "\"" + esc(f) + "\"").mkString(",")
        s"""{"lkey":"${esc(l.key)}","lstats":"${esc(l.statsFile)}",""" +
          s""""lpred":"${esc(l.pred)}","ldata":[$lf]}"""
      }.mkString(""""layers":[""", ",", "],")
    val blm =
      if (m.blooms.isEmpty) ""
      else m.blooms.map { b =>
        val maint = if (b.maintain) """"bmaint":1,""" else ""
        s"""{"bcol":"${esc(b.column)}","blogbits":${b.logBits},""" +
          s""""bk":${b.k},$maint"bfile":"${esc(b.file)}"}"""
      }.mkString(""""blooms":[""", ",", "],")
    val clu =
      if (m.cluster.isEmpty) ""
      else m.cluster.map(c => "\"" + esc(c) + "\"")
        .mkString(""""cluster":[""", ",", "],")
    val ts = if (m.ts != 0L) s""""ts":${m.ts},""" else ""
    // column mapping (catalog RENAME/DROP COLUMN): optional like txn —
    // "colmap" pairs map a PHYSICAL file-column name to its current
    // LOGICAL name; "dropcols" lists physical columns projected out of
    // the logical view. schemaDdl stays the PHYSICAL schema always.
    val cmap =
      if (m.logical.isEmpty) ""
      else m.logical.map { case (p, l) =>
        s"""{"phys":"${esc(p)}","log":"${esc(l)}"}"""
      }.mkString(""""colmap":[""", ",", "],")
    val dcols =
      if (m.dropped.isEmpty) ""
      else m.dropped.map(c => "\"" + esc(c) + "\"")
        .mkString(""""dropcols":[""", ",", "],")
    s"""{"version":${m.version},"base":${m.base},$ts$blm$clu$cmap$dcols""" +
      s""""txn":"${esc(m.txn)}",""" +
      s""""statsfile":"${esc(m.statsFile)}",""" +
      s""""schema":"${esc(m.schemaDdl)}",$segs$lys"files":[$fs]}"""
  }

  /** One escaped-TSV line per column:
    * `name \t rows \t nulls|? \t =min|? \t =max|?` — the stats sidecar's
    * field encodings, minus the file column. Values are esc'd BEFORE the
    * real-tab join (same discipline as [[writeStatsFile]]) so a value
    * containing a tab survives the round trip. */
  private def renderColStatsTsv(cols: Map[String, ColStats]): String = {
    val sb = new StringBuilder
    cols.toSeq.sortBy(_._1).foreach { case (name, s) =>
      sb.append(esc(name)).append('\t').append(s.rows).append('\t')
        .append(s.nulls.map(_.toString).getOrElse("?")).append('\t')
        .append(s.min.map(m => "=" + esc(m)).getOrElse("?")).append('\t')
        .append(s.max.map(m => "=" + esc(m)).getOrElse("?")).append('\n')
    }
    sb.toString
  }

  private def parseColStatsTsv(tsv: String): Map[String, ColStats] =
    tsv.split('\n').iterator.filter(_.nonEmpty).flatMap { line =>
      val f = line.split('\t')
      if (f.length != 5) None
      else {
        def opt(s: String): Option[String] =
          if (s == "?") None else Some(unesc(s.substring(1)))
        Some(unesc(f(0)) -> ColStats(f(1).toLong,
          if (f(2) == "?") None else Some(f(2).toLong), opt(f(3)),
          opt(f(4))))
      }
    }.toMap

  /** Parse [[render]]'s output. Strict by design: a manifest that does
    * not parse is a corrupted COMMITTED snapshot (tmp files never carry
    * the v<N>.json name) and must fail loudly, not read as empty. */
  private[sources] def parse(s: String): Manifest = {
    def intField(name: String): Int = {
      val m = s""""$name":(-?\\d+)""".r.findFirstMatchIn(s)
        .getOrElse(sys.error(s"manifest missing $name: $s"))
      m.group(1).toInt
    }
    // a JSON string literal: quote, (escape-pair | non-quote)*, quote
    val strLit = """"((?:\\.|[^"\\])*)""""
    val schema = (s""""schema":$strLit""").r.findFirstMatchIn(s)
      .getOrElse(sys.error(s"manifest missing schema: $s")).group(1)
    val filesBlob = s""""files":\\[(.*)\\]""".r.findFirstMatchIn(s)
      .getOrElse(sys.error(s"manifest missing files: $s")).group(1)
    val files = strLit.r.findAllMatchIn(filesBlob).map(m =>
      unesc(m.group(1))).toSeq
    // txn and statsfile are OPTIONAL (manifests written before the
    // fields existed parse to "" — no retroactive meaning, just absence)
    val txn = (s""""txn":$strLit""").r.findFirstMatchIn(s)
      .map(m => unesc(m.group(1))).getOrElse("")
    val statsFile = (s""""statsfile":$strLit""").r.findFirstMatchIn(s)
      .map(m => unesc(m.group(1))).getOrElse("")
    // segment objects matched directly by their unique key triple —
    // pre-segment manifests simply have none (optional field, like txn)
    val segRe =
      (s"""\\{"path":$strLit,"nfiles":(\\d+),"colstats":$strLit\\}""").r
    val segments = segRe.findAllMatchIn(s).map { m =>
      SegmentRef(unesc(m.group(1)), m.group(2).toInt,
        parseColStatsTsv(unesc(m.group(3))))
    }.toSeq
    // merge-on-read layers, in commit order (order is the semantics);
    // lpred is optional so pre-predicate-delete manifests parse as ""
    val layRe =
      (s"""\\{"lkey":$strLit,"lstats":$strLit""" +
        s"""(?:,"lpred":$strLit)?,"ldata":\\[(.*?)\\]\\}""").r
    val layers = layRe.findAllMatchIn(s).map { m =>
      MergeLayer(unesc(m.group(1)),
        strLit.r.findAllMatchIn(m.group(4)).map(f =>
          unesc(f.group(1))).toSeq,
        unesc(m.group(2)),
        Option(m.group(3)).map(unesc).getOrElse(""))
    }.toSeq
    // bloom index refs — optional like segments/layers
    val blmRe = (s"""\\{"bcol":$strLit,"blogbits":(\\d+),"bk":(\\d+),""" +
      s"""(?:"bmaint":(\\d+),)?"bfile":$strLit\\}""").r
    val blooms = blmRe.findAllMatchIn(s).map { m =>
      BloomIndex(unesc(m.group(1)), m.group(2).toInt, m.group(3).toInt,
        unesc(m.group(5)), maintain = m.group(4) != null)
    }.toSeq
    // clustering spec — optional like txn; non-greedy stop at the first
    // ']' is safe (column names never carry brackets through toDDL)
    val cluster = s""""cluster":\\[(.*?)\\]""".r.findFirstMatchIn(s)
      .map(m => strLit.r.findAllMatchIn(m.group(1))
        .map(c => unesc(c.group(1))).toSeq).getOrElse(Nil)
    // commit wall-clock — optional like txn (pre-timestamp manifests
    // parse as 0 = "unknown, counts as arbitrarily old" for time travel)
    val ts = """"ts":(\d+)""".r.findFirstMatchIn(s)
      .map(_.group(1).toLong).getOrElse(0L)
    // column mapping — optional like txn (absent = identity view)
    val cmapRe = (s"""\\{"phys":$strLit,"log":$strLit\\}""").r
    val logical = cmapRe.findAllMatchIn(s).map(m =>
      (unesc(m.group(1)), unesc(m.group(2)))).toSeq
    val dropped = s""""dropcols":\\[(.*?)\\]""".r.findFirstMatchIn(s)
      .map(m => strLit.r.findAllMatchIn(m.group(1))
        .map(c => unesc(c.group(1))).toSeq).getOrElse(Nil)
    Manifest(intField("version"), intField("base"), unesc(schema), files,
      txn, statsFile, segments, layers, blooms, cluster, ts, logical,
      dropped)
  }

  // ------------------------------------------------------------- resolve

  private val ManifestName = """v(\d+)\.json""".r

  /** Committed versions present under `root`, ascending; empty for a
    * table that has never committed. */
  def versions(root: String): Seq[Int] = {
    val dir = manifestDir(root)
    if (!Files.isDirectory(dir)) Seq.empty
    else {
      val it = Files.list(dir)
      try it.iterator().asInstanceOf[java.util.Iterator[Path]]
        .let { i =>
          val b = Seq.newBuilder[Int]
          while (i.hasNext) i.next().getFileName.toString match {
            case ManifestName(v) => b += v.toInt
            case _ => () // .tmp- writer scratch: not a committed snapshot
          }
          b.result().sorted
        }
      finally it.close()
    }
  }

  // tiny `let` so the stream closes in one expression
  private implicit class Lets[A](private val a: A) extends AnyVal {
    def let[B](f: A => B): B = f(a)
  }

  /** The manifest of `version` (or the CURRENT = max committed version).
    * None for a table with no commits. */
  /** Newest committed version whose commit wall-clock is ≤ `tsMillis`
    * — `TIMESTAMP AS OF` at the table layer (the catalog twin is
    * [[Catalog.versionAsOfTimestamp]]). None when every version is
    * newer; pre-timestamp manifests (ts 0) count as arbitrarily old.
    * Clocks stamp at publish and are immutable, so the answer is exact
    * forever; the newest-first walk returns the highest qualifying
    * version even across a wall-clock regression. */
  def versionAsOfTimestamp(root: String, tsMillis: Long): Option[Int] =
    versions(root).reverseIterator
      .find(v => snapshot(root, Some(v)).get.ts <= tsMillis)

  def snapshot(root: String, version: Option[Int] = None): Option[Manifest] =
    (version match {
      case Some(v) => Some(v)
      case None    => versions(root).lastOption
    }).map { v =>
      val p = manifestPath(root, v)
      require(Files.exists(p), s"no committed snapshot v$v under $root")
      parse(new String(Files.readAllBytes(p), StandardCharsets.UTF_8))
    }

  // ------------------------------------------------------------ segments

  /** A segment file IS a mini-manifest (version/base pinned to -1, no
    * schema): its `files` are the subset it names, its `statsFile` the
    * per-file sidecar. Reusing the manifest codec keeps the segment
    * tier one concept, not a second format. */
  private[sources] def readSegmentManifest(root: String,
      ref: SegmentRef): Manifest = {
    val p = Paths.get(root, ref.path)
    require(Files.exists(p), s"manifest names a missing segment: $p")
    parse(new String(Files.readAllBytes(p), StandardCharsets.UTF_8))
  }

  /** The snapshot's BASE file list: inline files plus every segment's
    * (merge-on-read layer files are NOT base data — they fold over it;
    * [[vacuum]] tracks them separately). O(segments) metadata reads —
    * the full-read price; the pruned path ([[readWhere]]) parses only
    * intersecting segments. */
  def allFiles(root: String, m: Manifest): Seq[String] =
    m.files ++ m.segments.flatMap(s => readSegmentManifest(root, s).files)

  /** Fold a manifest's merge-on-read layers over the base frame, in
    * commit order: a keyed layer anti-joins its keys out of everything
    * OLDER, then unions its non-tombstoned rows; an add-only layer
    * (key == "") just unions. The result is EXACTLY what the
    * copy-on-write [[merge]] would have materialized — the spec and the
    * q125 gate pin the hash equality. */
  private[sources] def applyLayers(spark: SparkSession, root: String,
      m: Manifest, schema: StructType, base: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, coalesce, lit, not}
    m.layers.foldLeft(base) { (acc, l) =>
      if (l.pred.nonEmpty) {
        // predicate-delete layer: DELETE WHERE p at this point of the
        // chain — NOT(coalesce(p, false)) so NULL-p rows are KEPT (SQL
        // DELETE only removes rows where the predicate is TRUE). Rows
        // later layers add are unaffected (they fold in above).
        acc.filter(not(coalesce(predColumn(parsePred(l.pred)),
          lit(false))))
      }
      else if (l.files.isEmpty) acc
      else if (l.key.isEmpty) {
        // add-only layer: plain table-schema files, nothing suppressed
        acc.unionByName(spark.read.schema(schema)
          .parquet(l.files.map(f => Paths.get(root, f).toString): _*))
      } else {
        val lySchema = StructType(schema.fields :+
          org.apache.spark.sql.types.StructField(LayerDelCol,
            org.apache.spark.sql.types.BooleanType, nullable = true))
        val ly = spark.read.schema(lySchema)
          .parquet(l.files.map(f => Paths.get(root, f).toString): _*)
        // EVERY layer key suppresses the older row (update or delete);
        // only non-tombstones come back. The anti-join side projects to
        // the key column — parquet column pruning keeps it cheap.
        acc.join(ly.select(col(l.key)), Seq(l.key), "left_anti")
          .unionByName(ly
            .filter(not(coalesce(col(LayerDelCol), lit(false))))
            .drop(LayerDelCol))
      }
    }
  }

  /** Per-file stats across the inline sidecar AND every segment's. */
  def allFileStats(root: String,
      m: Manifest): Map[String, Map[String, ColStats]] =
    fileStats(root, m) ++ m.segments.flatMap { ref =>
      fileStats(root, readSegmentManifest(root, ref))
    }

  /** Aggregate per-file stats into one segment-level summary, per
    * column: rows summed, nulls summed when every file reports them,
    * min/max folded when every file (with any non-null values) reports
    * a usable range. A column ANY member file lacks an entry for is
    * dropped — its values in that file are unknown, so no segment-level
    * claim is sound. The summary is what lets [[readWhere]] skip a
    * whole segment without parsing it. */
  private[sources] def summarize(files: Seq[String],
      stats: Map[String, Map[String, ColStats]],
      schema: StructType): Map[String, ColStats] = {
    if (files.isEmpty) return Map.empty
    val maps = files.map(f => stats.getOrElse(f, Map.empty))
    if (maps.exists(_.isEmpty)) return Map.empty // a stat-less file: no claims
    val types = schema.fields.map(f => f.name -> f.dataType).toMap
    // the size pseudo-column is per-FILE metadata — a segment-level
    // "sum of sizes as rows" claim would be noise
    val common = maps.map(_.keySet).reduce(_ intersect _) - SizeKey
    common.iterator.map { c =>
      val es = maps.map(_(c))
      val rows = es.map(_.rows).sum
      val nulls =
        if (es.forall(_.nulls.isDefined)) Some(es.map(_.nulls.get).sum)
        else None
      // files that are ALL-NULL for c contribute no values to the range
      val ranged = es.filterNot(e => e.nulls.isDefined &&
        e.nulls.contains(e.rows))
      val range: Option[(String, String)] = types.get(c).flatMap { dt =>
        if (ranged.isEmpty ||
            ranged.exists(e => e.min.isEmpty || e.max.isEmpty)) None
        else {
          // fold via the same normalize/compare the skip logic uses; any
          // un-normalizable value poisons the whole range (never skip)
          def fold(vals: Seq[String], wantMin: Boolean): Option[String] =
            vals.tail.foldLeft(Option(vals.head)) { (accOpt, v) =>
              for {
                acc <- accOpt
                na <- normalize(dt, acc); nv <- normalize(dt, v)
                cmp <- cmpNorm(nv, na)
              } yield if ((cmp < 0) == wantMin) v else acc
            }
          for {
            mn <- fold(ranged.map(_.min.get), wantMin = true)
            mx <- fold(ranged.map(_.max.get), wantMin = false)
          } yield (mn, mx)
        }
      }
      c -> ColStats(rows, nulls, range.map(_._1), range.map(_._2))
    }.toMap
  }

  /** Write one immutable segment: the per-file stats sidecar, then the
    * segment file naming `files` + that sidecar. Returns the manifest-
    * list entry (path, file count, aggregated column summary). */
  private[sources] def writeSegment(root: String, files: Seq[String],
      stats: Map[String, Map[String, ColStats]],
      schema: StructType): SegmentRef = {
    val sidecar = writeStatsFile(root, stats)
    val rel = s"_manifests/seg-${java.util.UUID.randomUUID()}.json"
    val p = Paths.get(root, rel)
    Files.createDirectories(p.getParent)
    Files.write(p, render(Manifest(-1, -1, "", files, statsFile = sidecar))
      .getBytes(StandardCharsets.UTF_8))
    SegmentRef(rel, files.size, summarize(files, stats, schema))
  }

  /** Snapshot-pinned read: resolve the (given or current) version ONCE,
    * then read exactly that manifest's files (inline + segments). The
    * returned frame stays correct across any number of concurrent
    * commits; it survives [[vacuum]] for as long as its version is
    * retained. A table with no commits has no schema — that is a caller
    * error, not an empty frame.
    */
  def read(spark: SparkSession, root: String,
      version: Option[Int] = None): DataFrame = {
    val m = snapshot(root, version).getOrElse(
      sys.error(s"no committed snapshot under $root"))
    val schema = StructType.fromDDL(m.schemaDdl)
    val files = allFiles(root, m)
    val base =
      if (files.isEmpty)
        spark.createDataFrame(spark.sparkContext
          .emptyRDD[org.apache.spark.sql.Row], schema)
      else
        spark.read.schema(schema)
          .parquet(files.map(f => Paths.get(root, f).toString): _*)
    applyLayers(spark, root, m, schema, base)
  }

  // --------------------------------------------------- stats predicates

  /** The predicate language [[readWhere]] can SKIP FILES for — the
    * min/max-decidable core (comparisons, conjunction, disjunction,
    * null tests) every table format's pruning layer speaks. Literals
    * take the natural Scala/Java types of the column (numbers, String,
    * java.sql.Date / LocalDate for dates, java.sql.Timestamp / Instant
    * for timestamps). Semantics are SQL three-valued: a comparison on
    * NULL is false, so an all-null file is skippable for any
    * comparison. */
  sealed trait StatsPred
  object StatsPred {
    final case class Eq(col: String, v: Any) extends StatsPred
    final case class Lt(col: String, v: Any) extends StatsPred
    final case class Le(col: String, v: Any) extends StatsPred
    final case class Gt(col: String, v: Any) extends StatsPred
    final case class Ge(col: String, v: Any) extends StatsPred
    final case class Between(col: String, lo: Any, hi: Any) extends StatsPred
    final case class In(col: String, vs: Seq[Any]) extends StatsPred
    final case class IsNull(col: String) extends StatsPred
    final case class IsNotNull(col: String) extends StatsPred
    final case class And(a: StatsPred, b: StatsPred) extends StatsPred
    final case class Or(a: StatsPred, b: StatsPred) extends StatsPred
  }

  /** The predicate as a Spark Column — [[readWhere]] applies it as the
    * residual row filter, so file skipping is ONLY an optimization: the
    * row result is identical with or without stats. */
  def predColumn(p: StatsPred): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{col => c, lit}
    import StatsPred._
    p match {
      case Eq(n, v)         => c(n) === lit(v)
      case Lt(n, v)         => c(n) < lit(v)
      case Le(n, v)         => c(n) <= lit(v)
      case Gt(n, v)         => c(n) > lit(v)
      case Ge(n, v)         => c(n) >= lit(v)
      case Between(n, l, h) => c(n) >= lit(l) && c(n) <= lit(h)
      case In(n, vs)        => c(n).isin(vs: _*)
      case IsNull(n)        => c(n).isNull
      case IsNotNull(n)     => c(n).isNotNull
      case And(a, b)        => predColumn(a) && predColumn(b)
      case Or(a, b)         => predColumn(a) || predColumn(b)
    }
  }

  // ------------------------------------------- StatsPred serialization
  // (for predicate-delete layers: the predicate must survive in the
  // manifest). S-expression with quoted esc'd strings and one-letter
  // literal type tags — hand-rolled like the manifest codec, same
  // no-JSON-dependency rule.

  private def renderLit(v: Any): String = v match {
    case n @ (_: java.lang.Long | _: java.lang.Integer |
        _: java.lang.Short | _: java.lang.Byte) => "L" + n
    case n @ (_: java.lang.Double | _: java.lang.Float) => "D" + n
    case d: BigDecimal               => "B" + d.bigDecimal.toPlainString
    case d: java.math.BigDecimal     => "B" + d.toPlainString
    case s: String                   => "S" + s
    case b: java.lang.Boolean        => "Z" + b
    case d: java.sql.Date            => "A" + d.toLocalDate.toEpochDay
    case d: java.time.LocalDate      => "A" + d.toEpochDay
    case t: java.sql.Timestamp       =>
      "T" + (t.getTime * 1000L + (t.getNanos % 1000000L) / 1000L)
    case i: java.time.Instant        =>
      "T" + (i.getEpochSecond * 1000000L + i.getNano / 1000L)
    case other => sys.error(
      s"unsupported predicate literal for serialization: " +
        s"${other.getClass.getName}")
  }

  private def parseLit(s: String): Any = {
    val body = s.substring(1)
    s.charAt(0) match {
      case 'L' => java.lang.Long.valueOf(body)
      case 'D' => java.lang.Double.valueOf(body)
      case 'B' => BigDecimal(body)
      case 'S' => body
      case 'Z' => java.lang.Boolean.valueOf(body)
      case 'A' => java.time.LocalDate.ofEpochDay(body.toLong)
      case 'T' =>
        val us = body.toLong
        java.time.Instant.ofEpochSecond(Math.floorDiv(us, 1000000L),
          Math.floorMod(us, 1000000L) * 1000L)
      case c => sys.error(s"bad literal tag '$c' in predicate: $s")
    }
  }

  private def q(s: String): String = "\"" + esc(s) + "\""

  private[sources] def renderPred(p: StatsPred): String = {
    import StatsPred._
    p match {
      case Eq(n, v) => s"(eq ${q(n)} ${q(renderLit(v))})"
      case Lt(n, v) => s"(lt ${q(n)} ${q(renderLit(v))})"
      case Le(n, v) => s"(le ${q(n)} ${q(renderLit(v))})"
      case Gt(n, v) => s"(gt ${q(n)} ${q(renderLit(v))})"
      case Ge(n, v) => s"(ge ${q(n)} ${q(renderLit(v))})"
      case Between(n, lo, hi) =>
        s"(between ${q(n)} ${q(renderLit(lo))} ${q(renderLit(hi))})"
      case In(n, vs) =>
        (s"(in ${q(n)}" +: vs.map(v => q(renderLit(v)))).mkString(" ") + ")"
      case IsNull(n)    => s"(isnull ${q(n)})"
      case IsNotNull(n) => s"(notnull ${q(n)})"
      case And(a, b)    => s"(and ${renderPred(a)} ${renderPred(b)})"
      case Or(a, b)     => s"(or ${renderPred(a)} ${renderPred(b)})"
    }
  }

  /** Parse [[renderPred]]'s output. Strict: a predicate that does not
    * parse is a corrupted committed manifest — fail loudly. */
  private[sources] def parsePred(s: String): StatsPred = {
    import StatsPred._
    // tokenize: parens + quoted strings; whitespace separates
    val toks = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < s.length) s.charAt(i) match {
      case '(' => toks += "("; i += 1
      case ')' => toks += ")"; i += 1
      case '"' =>
        val b = new StringBuilder
        i += 1
        // bound-checked: a TRUNCATED predicate (unterminated quote or
        // trailing backslash) must fail with the parser's loud
        // corrupted-manifest diagnostic, not StringIndexOutOfBounds
        while (i < s.length && s.charAt(i) != '"') {
          if (s.charAt(i) == '\\') {
            require(i + 1 < s.length,
              s"truncated predicate (dangling escape): $s")
            b.append(s.charAt(i)).append(s.charAt(i + 1)); i += 2
          }
          else { b.append(s.charAt(i)); i += 1 }
        }
        require(i < s.length,
          s"truncated predicate (unterminated string): $s")
        toks += "\"" + b.toString; i += 1
      case c if c.isWhitespace => i += 1
      case _ =>
        val start = i
        while (i < s.length && !s.charAt(i).isWhitespace &&
          s.charAt(i) != '(' && s.charAt(i) != ')') i += 1
        toks += s.substring(start, i)
    }
    var pos = 0
    def next(): String = { val t = toks(pos); pos += 1; t }
    def str(): String = {
      val t = next()
      require(t.startsWith("\""), s"expected string, got $t in: $s")
      unesc(t.substring(1))
    }
    def node(): StatsPred = {
      require(next() == "(", s"expected '(' in predicate: $s")
      val op = next()
      val r = op match {
        case "eq" => Eq(str(), parseLit(str()))
        case "lt" => Lt(str(), parseLit(str()))
        case "le" => Le(str(), parseLit(str()))
        case "gt" => Gt(str(), parseLit(str()))
        case "ge" => Ge(str(), parseLit(str()))
        case "between" =>
          Between(str(), parseLit(str()), parseLit(str()))
        case "in" =>
          val n = str()
          val vs = Seq.newBuilder[Any]
          while (toks(pos) != ")") vs += parseLit(str())
          In(n, vs.result())
        case "isnull"  => IsNull(str())
        case "notnull" => IsNotNull(str())
        case "and"     => And(node(), node())
        case "or"      => Or(node(), node())
        case o => sys.error(s"bad predicate op '$o' in: $s")
      }
      require(next() == ")", s"expected ')' in predicate: $s")
      r
    }
    val r = node()
    require(pos == toks.length, s"trailing tokens in predicate: $s")
    r
  }

  /** Column names a predicate references (for schema validation). */
  private def predCols(p: StatsPred): Set[String] = {
    import StatsPred._
    p match {
      case Eq(n, _)         => Set(n)
      case Lt(n, _)         => Set(n)
      case Le(n, _)         => Set(n)
      case Gt(n, _)         => Set(n)
      case Ge(n, _)         => Set(n)
      case Between(n, _, _) => Set(n)
      case In(n, _)         => Set(n)
      case IsNull(n)        => Set(n)
      case IsNotNull(n)     => Set(n)
      case And(a, b)        => predCols(a) ++ predCols(b)
      case Or(a, b)         => predCols(a) ++ predCols(b)
    }
  }

  /** Normalize a stats string or a caller literal of column type `dt`
    * into one comparable domain. None = this layer does not reason
    * about the type/value — treated as unknown (never skip). */
  private def normalize(dt: org.apache.spark.sql.types.DataType,
      v: Any): Option[Any] = {
    import org.apache.spark.sql.types._
    def asLong(x: Any): Option[Long] = x match {
      case s: String  => scala.util.Try(s.toLong).toOption
      case n: Number  => Some(n.longValue())
      case _          => None
    }
    dt match {
      case ByteType | ShortType | IntegerType | LongType => asLong(v)
      case FloatType | DoubleType => v match {
        case s: String => scala.util.Try(s.toDouble).toOption
        case n: Number => Some(n.doubleValue())
        case _         => None
      }
      case _: DecimalType => v match {
        case s: String          => scala.util.Try(BigDecimal(s)).toOption
        case d: BigDecimal      => Some(d)
        case d: java.math.BigDecimal => Some(BigDecimal(d))
        case n: Number          => Some(BigDecimal(n.toString))
        case _                  => None
      }
      case StringType => v match {
        case s: String => Some(s)
        case _         => None
      }
      case DateType => v match {
        case s: String => // stats store epoch days; literals may be ISO
          scala.util.Try(s.toLong).toOption.orElse(
            scala.util.Try(java.time.LocalDate.parse(s).toEpochDay).toOption)
        case d: java.sql.Date       => Some(d.toLocalDate.toEpochDay)
        case d: java.time.LocalDate => Some(d.toEpochDay)
        case n: Number              => Some(n.longValue())
        case _                      => None
      }
      case TimestampType | TimestampNTZType => v match {
        case s: String => scala.util.Try(s.toLong).toOption // micros
        case t: java.sql.Timestamp =>
          Some(t.getTime * 1000L + (t.getNanos % 1000000L) / 1000L)
        case i: java.time.Instant =>
          Some(i.getEpochSecond * 1000000L + i.getNano / 1000L)
        case n: Number => Some(n.longValue())
        case _         => None
      }
      case BooleanType => v match {
        case s: String  => scala.util.Try(s.toBoolean).toOption
        case b: Boolean => Some(b)
        case _          => None
      }
      case _ => None
    }
  }

  private def cmpNorm(a: Any, b: Any): Option[Int] = (a, b) match {
    case (x: Long, y: Long)             => Some(java.lang.Long.compare(x, y))
    case (x: Double, y: Double)         => Some(java.lang.Double.compare(x, y))
    case (x: BigDecimal, y: BigDecimal) => Some(x.compare(y))
    case (x: Boolean, y: Boolean)       => Some(java.lang.Boolean.compare(x, y))
    case (x: String, y: String) =>
      // parquet orders UTF8 by unsigned bytes; Java String compareTo
      // orders UTF-16 units — they disagree above the BMP, so compare
      // the UTF-8 bytes, matching the order the stats were taken in
      val xb = x.getBytes(StandardCharsets.UTF_8)
      val yb = y.getBytes(StandardCharsets.UTF_8)
      var i = 0
      val n = math.min(xb.length, yb.length)
      while (i < n) {
        val d = (xb(i) & 0xff) - (yb(i) & 0xff)
        if (d != 0) return Some(d)
        i += 1
      }
      Some(xb.length - yb.length)
    case _ => None // mixed domains: unknown, never skip on it
  }

  /** Conservative may-match: false ONLY when the stats PROVE no row of
    * the file can satisfy `p`. Missing column entry, missing min/max,
    * un-normalizable literal, mixed domains — all answer true (open
    * the file; the residual filter decides). */
  private[sources] def mayMatch(
      stats: Map[String, ColStats],
      schema: org.apache.spark.sql.types.StructType,
      p: StatsPred): Boolean = {
    import StatsPred._
    // a ZERO-ROW file matches nothing, for ANY predicate — vacuously
    // sound, and the case absent min/max stats would otherwise force
    // open (an empty boundary partition written by an UPDATE/merge has
    // no values to derive a range from). The size pseudo-column is
    // excluded: its rows field is the byte size.
    if ((stats - SizeKey).headOption.exists(_._2.rows == 0L))
      return false
    def colInfo(n: String): Option[(ColStats,
        org.apache.spark.sql.types.DataType)] =
      for { cs <- stats.get(n); f <- schema.fields.find(_.name == n) }
        yield (cs, f.dataType)
    def allNull(cs: ColStats): Boolean = cs.nulls.contains(cs.rows)
    // can any non-null value v of col n satisfy `test(cmp(v, lit))`?
    def range(n: String, v: Any)(decide: (Int, Int) => Boolean): Boolean =
      colInfo(n) match {
        case None => true
        case Some((cs, dt)) =>
          if (allNull(cs)) false // comparison on null is never true
          else (for {
            lo <- cs.min; hi <- cs.max
            nl <- normalize(dt, lo); nh <- normalize(dt, hi)
            nv <- normalize(dt, v)
            cLo <- cmpNorm(nl, nv); cHi <- cmpNorm(nh, nv)
          } yield decide(cLo, cHi)).getOrElse(true)
      }
    p match {
      case Eq(n, v) => range(n, v)((cLo, cHi) => cLo <= 0 && cHi >= 0)
      case Lt(n, v) => range(n, v)((cLo, _) => cLo < 0)
      case Le(n, v) => range(n, v)((cLo, _) => cLo <= 0)
      case Gt(n, v) => range(n, v)((_, cHi) => cHi > 0)
      case Ge(n, v) => range(n, v)((_, cHi) => cHi >= 0)
      case Between(n, lo, hi) =>
        mayMatch(stats, schema, And(Ge(n, lo), Le(n, hi)))
      case In(n, vs) => vs.exists(v => mayMatch(stats, schema, Eq(n, v)))
      case IsNull(n) => colInfo(n) match {
        case Some((cs, _)) => cs.nulls.forall(_ > 0L)
        case None          => true
      }
      case IsNotNull(n) => colInfo(n) match {
        case Some((cs, _)) => cs.nulls.forall(_ < cs.rows)
        case None          => true
      }
      case And(a, b) =>
        mayMatch(stats, schema, a) && mayMatch(stats, schema, b)
      case Or(a, b) =>
        mayMatch(stats, schema, a) || mayMatch(stats, schema, b)
    }
  }

  /** The DUAL of [[mayMatch]] for [[deleteWhere]]'s metadata-only
    * file drops: true ONLY when the stats PROVE every row of the file
    * satisfies `p` — min/max inside the predicate's range AND zero
    * nulls (a null row never satisfies a comparison). Anything
    * unknown answers false (keep the file; the predicate layer's
    * filter still removes its matching rows — dropping is only ever an
    * optimization). */
  private[sources] def mustMatch(
      stats: Map[String, ColStats],
      schema: org.apache.spark.sql.types.StructType,
      p: StatsPred): Boolean = {
    import StatsPred._
    def colInfo(n: String) =
      for { cs <- stats.get(n); f <- schema.fields.find(_.name == n) }
        yield (cs, f.dataType)
    // every row's value provably satisfies test(cmp(v, lit))?
    def rangeAll(n: String, v: Any)(
        decide: (Int, Int) => Boolean): Boolean =
      colInfo(n) match {
        case Some((cs, dt)) if cs.nulls.contains(0L) =>
          (for {
            lo <- cs.min; hi <- cs.max
            nl <- normalize(dt, lo); nh <- normalize(dt, hi)
            nv <- normalize(dt, v)
            cLo <- cmpNorm(nl, nv); cHi <- cmpNorm(nh, nv)
          } yield decide(cLo, cHi)).getOrElse(false)
        case _ => false
      }
    p match {
      case Eq(n, v) => rangeAll(n, v)((cLo, cHi) => cLo == 0 && cHi == 0)
      case Lt(n, v) => rangeAll(n, v)((_, cHi) => cHi < 0)
      case Le(n, v) => rangeAll(n, v)((_, cHi) => cHi <= 0)
      case Gt(n, v) => rangeAll(n, v)((cLo, _) => cLo > 0)
      case Ge(n, v) => rangeAll(n, v)((cLo, _) => cLo >= 0)
      case Between(n, lo, hi) =>
        mustMatch(stats, schema, And(Ge(n, lo), Le(n, hi)))
      case In(n, vs) => vs.exists(v => mustMatch(stats, schema, Eq(n, v)))
      case IsNull(n) => colInfo(n).exists { case (cs, _) =>
        cs.nulls.contains(cs.rows) }
      case IsNotNull(n) => colInfo(n).exists { case (cs, _) =>
        cs.nulls.contains(0L) }
      case And(a, b) =>
        mustMatch(stats, schema, a) && mustMatch(stats, schema, b)
      case Or(a, b) =>
        mustMatch(stats, schema, a) || mustMatch(stats, schema, b)
    }
  }

  /** What [[readWhere]] decided: every file the manifest lists (inline
    * + all segments', counted from the refs without parsing), how many
    * it actually opened, and — for segmented manifests — how many
    * manifest segments exist vs how many the segment-level summaries
    * made it PARSE at all (the manifest-compaction payoff: a skipped
    * segment costs zero metadata reads, not just zero data reads).
    * `bloomSkipped` attributes skips PER TIER: files the min/max stats
    * passed but a bloom sidecar ruled out — the count a gate asserts to
    * prove bloom pruning is real and not stats pruning in disguise
    * (stats are always consulted first, so a file both tiers could skip
    * counts as a stats skip). */
  final case class ScanReport(filesListed: Int, filesOpened: Int,
      segmentsListed: Int = 0, segmentsParsed: Int = 0,
      bloomSkipped: Int = 0) {
    def filesSkipped: Int = filesListed - filesOpened
    def segmentsSkipped: Int = segmentsListed - segmentsParsed
    def statsSkipped: Int = filesSkipped - bloomSkipped
  }

  /** The shared two-level prune behind [[readWhere]] and
    * [[Catalog.readTableWhere]]: inline files filter on the inline
    * sidecar; each segment first tests its AGGREGATED summary (a miss
    * skips the segment unparsed), and only surviving segments get their
    * file lists + per-file sidecars consulted. Returns the files to
    * open, their byte sizes AS ALREADY LOADED by the walk (only from
    * the sidecars it parsed anyway — the front door must never pay an
    * O(all-segments) size walk for an O(selectivity) read), and the
    * full report. */
  private[sources] def pruneScan(root: String, m: Manifest,
      schema: StructType, pred: StatsPred)
      : (Seq[String], Map[String, Long], ScanReport) = {
    // bloom sidecars load once per scan, and only when the predicate
    // carries equality conjuncts an index column could decide
    val eqCols = eqConjuncts(pred).map {
      case StatsPred.Eq(n, _) => n
      case StatsPred.In(n, _) => n
      case _                  => ""
    }.toSet
    val loaded = m.blooms.filter(b => eqCols.contains(b.column))
      .map(b => (b, bloomBitmaps(root, b)))
    def bloomKeep(f: String): Boolean =
      loaded.isEmpty || bloomMayMatch(f, schema, pred, loaded)
    val inlineStats = fileStats(root, m)
    // stats tier first, bloom second — a file both could skip counts as
    // a stats skip, so bloomSkipped measures what the bloom tier ALONE
    // bought (the per-tier attribution the q127 gate asserts)
    var bloomSkipped = 0
    def keepFile(f: String, st: Option[Map[String, ColStats]]): Boolean =
      if (!st.forall(s => mayMatch(s, schema, pred))) false
      else if (!bloomKeep(f)) { bloomSkipped += 1; false }
      else true
    def sizesOf(keepSet: Seq[String],
        st: Map[String, Map[String, ColStats]]): Map[String, Long] =
      keepSet.flatMap(f => st.get(f).flatMap(_.get(SizeKey))
        .map(f -> _.rows)).toMap
    val inlineKeep = m.files.filter(f => keepFile(f, inlineStats.get(f)))
    var parsed = 0
    var sizes = sizesOf(inlineKeep, inlineStats)
    val segKeep = m.segments.flatMap { ref =>
      if (ref.cols.nonEmpty && !mayMatch(ref.cols, schema, pred)) Nil
      else {
        parsed += 1
        val sm = readSegmentManifest(root, ref)
        val st = fileStats(root, sm)
        val kept = sm.files.filter(f => keepFile(f, st.get(f)))
        sizes ++= sizesOf(kept, st)
        kept
      }
    }
    val keep = inlineKeep ++ segKeep
    val listed = m.files.size + m.segments.map(_.nFiles).sum
    (keep, sizes, ScanReport(listed, keep.size, m.segments.size, parsed,
      bloomSkipped))
  }

  /** Prune ADD-ONLY layers' files against `pred` through each layer's
    * own stats sidecar (and the table's bloom sidecars, whose maintained
    * lines cover layer files): SOUND for add-only layers ONLY — they
    * contribute rows and suppress nothing, so skipping a file whose
    * stats prove no row can match can never resurrect a deleted base
    * row or drop a suppression. Keyed and predicate layers pass through
    * UNTOUCHED (skipping a delete key would resurrect a suppressed base
    * row), as do layers without a sidecar (pre-stats commits open
    * conservatively). Returns the manifest with pruned layer file lists
    * plus (listed, opened) counts over the add-only layer files — the
    * caller folds them into its [[ScanReport]] so layer skips are
    * attributed like base skips. */
  private[sources] def pruneAddOnlyLayers(root: String, m: Manifest,
      schema: StructType, pred: StatsPred): (Manifest, Int, Int) = {
    val prunable = m.layers.filter(l => l.key.isEmpty && l.pred.isEmpty &&
      l.files.nonEmpty && l.statsFile.nonEmpty)
    if (prunable.isEmpty) return (m, 0, 0)
    val eqCols = eqConjuncts(pred).map {
      case StatsPred.Eq(n, _) => n
      case StatsPred.In(n, _) => n
      case _                  => ""
    }.toSet
    val loaded = m.blooms.filter(b => eqCols.contains(b.column))
      .map(b => (b, bloomBitmaps(root, b)))
    var listed = 0
    var opened = 0
    val layers = m.layers.map { l =>
      if (l.key.nonEmpty || l.pred.nonEmpty || l.files.isEmpty ||
          l.statsFile.isEmpty) l
      else {
        val st = fileStats(root,
          Manifest(-1, -1, "", l.files, statsFile = l.statsFile))
        val kept = l.files.filter { f =>
          st.get(f).forall(s => mayMatch(s, schema, pred)) &&
            (loaded.isEmpty || bloomMayMatch(f, schema, pred, loaded))
        }
        listed += l.files.size
        opened += kept.size
        l.copy(files = kept)
      }
    }
    (m.copy(layers = layers), listed, opened)
  }

  /** Snapshot-pinned read WITH FILE SKIPPING: resolve the (given or
    * current) version once, consult its stats sidecar, and open ONLY
    * the files whose per-column ranges can intersect `pred`; the
    * predicate is then applied as the residual row filter, so the
    * result EQUALS `read(...).filter(predColumn(pred))` for every
    * input — stats only ever remove files the filter would have
    * emptied anyway. Files without stats (pre-stats manifests, columns
    * added by evolution, exotic types) are always opened. This is the
    * scan-time half of the Z-order story: [[optimize]] with `zorderBy`
    * clusters ranges so a range predicate intersects FEW files, and
    * this read cashes that in without touching the rest. */
  def readWhere(spark: SparkSession, root: String, pred: StatsPred,
      version: Option[Int] = None): (DataFrame, ScanReport) = {
    val m = snapshot(root, version).getOrElse(
      sys.error(s"no committed snapshot under $root"))
    val schema = StructType.fromDDL(m.schemaDdl)
    val (keep, _, report0) = pruneScan(root, m, schema, pred)
    val base =
      if (keep.isEmpty)
        spark.createDataFrame(spark.sparkContext
          .emptyRDD[org.apache.spark.sql.Row], schema)
      else
        spark.read.schema(schema)
          .parquet(keep.map(f => Paths.get(root, f).toString): _*)
    // pruning the base is sound under layers: a pruned-away base row
    // fails `pred` regardless of whether a layer would have suppressed
    // it. ADD-ONLY layer files prune through their own sidecars
    // ([[pruneAddOnlyLayers]], counted into the report); keyed and
    // predicate layers are NEVER pruned — a skipped delete key would
    // resurrect a suppressed base row.
    val (mp, lyListed, lyOpened) =
      pruneAddOnlyLayers(root, m, schema, pred)
    val report = report0.copy(
      filesListed = report0.filesListed + lyListed,
      filesOpened = report0.filesOpened + lyOpened)
    (applyLayers(spark, root, mp, schema, base).filter(predColumn(pred)),
      report)
  }

  // -------------------------------------------------------------- commit

  /** Write `df` as a fresh immutable data directory; return the file
    * names relative to root. An empty frame writes no files (commit of
    * an empty manifest is legal — truncation). */
  private[sources] def writeData(df: DataFrame, root: String): Seq[String] = {
    val dirName = "data/" + java.util.UUID.randomUUID().toString
    val dir = Paths.get(root, dirName)
    df.write.parquet(dir.toString)
    val it = Files.list(dir)
    try it.iterator().asInstanceOf[java.util.Iterator[Path]].let { i =>
      val b = Seq.newBuilder[String]
      while (i.hasNext) {
        val n = i.next().getFileName.toString
        if (n.endsWith(".parquet")) b += s"$dirName/$n"
      }
      b.result().sorted
    } finally it.close()
  }

  // -------------------------------------------------- file column stats

  /** Harvest per-column (rows, nulls, min, max) for each just-written
    * file from its parquet FOOTER — row-group chunk statistics merged
    * per column, O(files) metadata reads and zero data scan (the
    * Iceberg/Delta commit-time stats pattern). Conservative by
    * construction: a column whose any-row-group stats are unusable
    * (absent, INT96, unannotated binary) records None and can never
    * justify a skip. */
  private[sources] def harvestStats(spark: SparkSession, root: String,
      files: Seq[String]): Map[String, Map[String, ColStats]] = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    val conf = spark.sparkContext.hadoopConfiguration
    // footer reads are independent ~1-3 ms I/O each: a 10⁵-file commit
    // (the segment-metadata lane) would walk them sequentially for
    // minutes — harvest on a bounded driver-side pool instead. The
    // readers share nothing; the Hadoop conf is read-only here.
    val par = math.min(16, math.max(1, files.size / 64))
    val work: Seq[String] => Seq[(String,
        Map[String, ColStats])] = batch => batch.map { rel =>
      rel -> harvestOne(conf, root, rel)
    }
    if (par <= 1) files.map(rel => rel -> harvestOne(conf, root, rel)).toMap
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(par)
      try {
        val groups = files.grouped(
          math.max(1, files.size / par / 4)).toSeq
        val futs = groups.map(g => pool.submit(
          new java.util.concurrent.Callable[Seq[(String,
              Map[String, ColStats])]] {
            def call() = work(g)
          }))
        futs.flatMap(_.get()).toMap
      } finally pool.shutdown()
    }
  }

  /** One file's footer harvest (see [[harvestStats]]). */
  private def harvestOne(conf: org.apache.hadoop.conf.Configuration,
      root: String, rel: String): Map[String, ColStats] = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    Seq(rel).map { rel =>
      val p = Paths.get(root, rel)
      val in = HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(p.toUri), conf)
      val reader = ParquetFileReader.open(in)
      try {
        val blocks = reader.getFooter.getBlocks.asScala.toSeq
        val rows = blocks.map(_.getRowCount).sum
        // per-column accumulation across row groups
        final class Acc {
          var nulls = 0L
          var nullsKnown = true
          var minMaxKnown = true
          var min: AnyRef = null
          var max: AnyRef = null
          var cmp: java.util.Comparator[AnyRef] = null
          var prim: org.apache.parquet.schema.PrimitiveType = null
        }
        val accs = scala.collection.mutable.LinkedHashMap.empty[String, Acc]
        blocks.foreach { b =>
          b.getColumns.asScala.foreach { c =>
            // top-level flat columns only; nested paths record nothing
            val path = c.getPath.toArray
            if (path.length == 1) {
              val acc = accs.getOrElseUpdate(path(0), new Acc)
              if (acc.prim == null) {
                acc.prim = c.getPrimitiveType
                acc.cmp = c.getPrimitiveType.comparator()
                  .asInstanceOf[java.util.Comparator[AnyRef]]
              }
              val st = c.getStatistics
              if (st == null) { acc.nullsKnown = false; acc.minMaxKnown = false }
              else {
                if (st.isNumNullsSet) acc.nulls += st.getNumNulls
                else acc.nullsKnown = false
                if (st.hasNonNullValue) {
                  val mn = st.genericGetMin.asInstanceOf[AnyRef]
                  val mx = st.genericGetMax.asInstanceOf[AnyRef]
                  if (acc.min == null || acc.cmp.compare(mn, acc.min) < 0)
                    acc.min = mn
                  if (acc.max == null || acc.cmp.compare(mx, acc.max) > 0)
                    acc.max = mx
                } else if (!(st.isNumNullsSet &&
                    st.getNumNulls == c.getValueCount)) {
                  // non-null values exist but min/max were not recorded
                  acc.minMaxKnown = false
                }
              }
            }
          }
        }
        val cols =
          if (rows == 0L)
            // a ZERO-ROW file has no row groups to walk — record every
            // top-level schema column explicitly with rows=0 so the
            // skip logic can prove "nothing here matches anything"
            // (an entry-less sidecar line would force a conservative
            // open; empty boundary partitions of UPDATE/merge writes
            // produce exactly these files)
            reader.getFooter.getFileMetaData.getSchema.getFields.asScala
              .map(f => f.getName -> ColStats(0L, Some(0L), None, None))
              .toMap
          else accs.toMap.map { case (name, a) =>
            val mm =
              if (!a.minMaxKnown) (None, None)
              else (Option(a.min).flatMap(statString(a.prim, _)),
                Option(a.max).flatMap(statString(a.prim, _)))
            // an unusable min OR max poisons both (a one-sided range is
            // not the contract the skip logic assumes)
            val (mnS, mxS) =
              if (mm._1.isEmpty || mm._2.isEmpty) (None, None) else mm
            name -> ColStats(rows,
              if (a.nullsKnown) Some(a.nulls) else None, mnS, mxS)
          }
        // FILE SIZE rides the sidecar as a reserved pseudo-column (rows
        // = byte size): the harvest already opens the file, so this is
        // free at commit time, and it removes the per-file stat walk an
        // object store cannot afford at relation-creation time
        // ([[GraftFileIndex.sizeInBytes]]/listFiles). Data files are
        // immutable, so the recorded size is exact forever. A real
        // column shadowing the reserved name (vanishingly unlikely)
        // simply keeps its stats — sizes then fall back to live stats.
        if (cols.contains(SizeKey)) cols
        else cols + (SizeKey -> ColStats(Files.size(p), None, None, None))
      } finally reader.close()
    }.head
  }

  /** Canonical string for a footer min/max under the column's parquet
    * LOGICAL type: UTF-8 for strings, epoch-day int for dates,
    * micros for int64 timestamps (millis normalized), plain decimal
    * string for DECIMAL, raw numbers otherwise. None = type this layer
    * refuses to reason about (INT96, unannotated binary, interval…) —
    * the column simply records no extrema. */
  private def statString(prim: org.apache.parquet.schema.PrimitiveType,
      v: AnyRef): Option[String] = {
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import org.apache.parquet.io.api.Binary
    val ann = prim.getLogicalTypeAnnotation
    (prim.getPrimitiveTypeName, ann) match {
      case (BINARY, a: LogicalTypeAnnotation.StringLogicalTypeAnnotation) =>
        Some(v.asInstanceOf[Binary].toStringUsingUTF8)
      case (_, a: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation) =>
        val unscaled = v match {
          case i: java.lang.Integer => BigInt(i.intValue())
          case l: java.lang.Long    => BigInt(l.longValue())
          case b: Binary            => BigInt(new java.math.BigInteger(b.getBytes))
          case _                    => return None
        }
        Some(BigDecimal(unscaled, a.getScale).bigDecimal.toPlainString)
      case (INT32, _: LogicalTypeAnnotation.DateLogicalTypeAnnotation) =>
        Some(v.asInstanceOf[java.lang.Integer].toString)
      case (INT64, t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation) =>
        val raw = v.asInstanceOf[java.lang.Long].longValue()
        t.getUnit match {
          case LogicalTypeAnnotation.TimeUnit.MICROS => Some(raw.toString)
          case LogicalTypeAnnotation.TimeUnit.MILLIS => Some((raw * 1000L).toString)
          case _ => None // nanos: out of scope, record nothing
        }
      case (INT32, _) | (INT64, _) => Some(v.toString)
      case (FLOAT, _) | (DOUBLE, _) => Some(v.toString)
      case (BOOLEAN, _) => Some(v.toString)
      case _ => None // INT96, FIXED w/o decimal, unannotated binary
    }
  }

  /** Write a stats sidecar (one esc'd TSV line per (file, column)) and
    * return its root-relative path. Immutable write-once, fresh uuid. */
  private[sources] def writeStatsFile(root: String,
      stats: Map[String, Map[String, ColStats]]): String = {
    val rel = s"_manifests/stats-${java.util.UUID.randomUUID()}.tsv"
    val sb = new StringBuilder
    stats.toSeq.sortBy(_._1).foreach { case (file, cols) =>
      cols.toSeq.sortBy(_._1).foreach { case (name, s) =>
        sb.append(esc(file)).append('\t').append(esc(name)).append('\t')
          .append(s.rows).append('\t')
          .append(s.nulls.map(_.toString).getOrElse("?")).append('\t')
          .append(s.min.map(m => "=" + esc(m)).getOrElse("?")).append('\t')
          .append(s.max.map(m => "=" + esc(m)).getOrElse("?")).append('\n')
      }
    }
    val p = Paths.get(root, rel)
    Files.createDirectories(p.getParent)
    Files.write(p, sb.toString.getBytes(StandardCharsets.UTF_8))
    rel
  }

  /** Load a manifest's stats sidecar; empty map when the manifest
    * predates stats or the sidecar names files this manifest no longer
    * references (entries are filtered to the manifest's file list). */
  def fileStats(root: String,
      m: Manifest): Map[String, Map[String, ColStats]] = {
    if (m.statsFile.isEmpty) return Map.empty
    val p = Paths.get(root, m.statsFile)
    if (!Files.exists(p)) return Map.empty
    val inManifest = m.files.toSet
    val lines = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
      .split('\n').iterator.filter(_.nonEmpty)
    val out = scala.collection.mutable.HashMap
      .empty[String, Map[String, ColStats]]
    lines.foreach { line =>
      val f = line.split('\t')
      if (f.length == 6) {
        val file = unesc(f(0))
        if (inManifest(file)) {
          def opt(s: String): Option[String] =
            if (s == "?") None
            else Some(unesc(s.substring(1))) // strip the '=' marker
          val cs = ColStats(f(2).toLong,
            if (f(3) == "?") None else Some(f(3).toLong),
            opt(f(4)), opt(f(5)))
          out(file) = out.getOrElse(file,
            Map.empty[String, ColStats]) + (unesc(f(1)) -> cs)
        }
      }
    }
    out.toMap
  }

  // --------------------------------------------------------- bloom index

  /** Build a FILE-LEVEL BLOOM INDEX over `column` for the current
    * snapshot's base data files and commit it as a new version
    * (metadata + one index scan; data files untouched). One pass reads
    * only (file, column) — per file, a 2^logBits-bit bitmap over
    * xxhash64(value) with Kirsch–Mitzenmacher double hashing, the exact
    * [[graft.operators.Sketches.bloomBitmap]] construction — and the
    * sidecar maps data-file path → bitmap. [[readWhere]] then skips
    * files whose bitmap rules out an equality/IN conjunct: no false
    * negatives, so skipping is sound; stats pruning still applies on
    * top. Null values set no bits — an `Eq` can never select null rows
    * (SQL 3VL), so a file of ONLY nulls is safely skippable; IsNull
    * pruning stays with the stats tier.
    *
    * Later appends leave new files unindexed (conservatively opened) —
    * UNLESS the index opted into commit-time maintenance
    * (`maintain = true`): then every append ([[appendTransform]]) harvests
    * bitmaps for its new files (O(new data), one scan per maintained
    * column) and publishes a merged sidecar, so point-probe pruning
    * never decays on an append-heavy table. OPTIMIZE/merge rewrite
    * file sets and DROP the index (re-run after).
    * Sizing: `logBits = 0` (the default) AUTO-SIZES from the per-file
    * row counts already in the stats sidecars (footer-harvested for any
    * file missing one) targeting ≥10 bits per row of the LARGEST file —
    * rows bound distinct keys, so with k = 5 the expected fill is
    * ≤ 1−e^(−1/2) ≈ 39 % and the false-positive rate ≤ ~1 %. A fixed
    * logBits that undershoots (e.g. 2^16 bits against 100 k keys/file)
    * saturates the bitmap: still CORRECT (conservative — it just opens
    * everything) but it prunes nothing while costing the index scan, so
    * the build WARNS loudly when any file's measured fill exceeds 60 %.
    * The sidecar costs 2^logBits/8 bytes per file, the same
    * per-file-metadata scale as the stats tier; at manifest-list scale
    * the segment tier shards sidecars exactly like stats. Retries past
    * concurrent appends (the per-file bitmaps stay valid for every file
    * that survives; files added by the interleaved commit are simply
    * not indexed). Refuses an unknown column; layered tables index
    * their BASE files (layer files are never pruned, so the fold stays
    * exact). Returns the committed version. */
  def indexBloom(spark: SparkSession, root: String, column: String,
      logBits: Int = 0, k: Int = 5, maintain: Boolean = false): Int = {
    import org.apache.spark.sql.functions.{bit_or, col, collect_list,
      explode, expr, input_file_name, lit, pmod, shiftrightunsigned,
      struct, xxhash64, array}
    require(logBits == 0 || (logBits >= 6 && logBits <= 26),
      s"logBits out of range (0 = auto): $logBits")
    require(k >= 1 && k <= 16, s"k out of range: $k")
    val cur0 = snapshot(root).getOrElse(
      sys.error(s"indexBloom on a table with no commits under $root"))
    val schema = StructType.fromDDL(cur0.schemaDdl)
    require(schema.fieldNames.contains(column),
      s"indexBloom: table has no column '$column' " +
        s"(schema: ${cur0.schemaDdl})")
    val baseFiles = allFiles(root, cur0)
    // auto-size from per-file row counts: stats sidecars already carry
    // them; files missing a sidecar get an O(1) footer read. rows ≥
    // distinct keys, so 10 bits/row is 10 bits/key or better.
    val effLogBits =
      if (logBits != 0) logBits
      else {
        val known = allFileStats(root, cur0)
        val missing = baseFiles.filterNot(known.contains)
        val rowsOf = known ++ (if (missing.isEmpty) Map.empty
          else harvestStats(spark, root, missing))
        // exclude the _graft:size pseudo-column: its `rows` field is the
        // file BYTE SIZE, and HashMap ordering could surface it first —
        // sizing the bloom from bytes would inflate to the 2^26 clamp
        val maxRows = baseFiles
          .flatMap(f => rowsOf.get(f)
            .flatMap(m => (m - SizeKey).values.headOption)
            .map(_.rows))
          .foldLeft(0L)(_ max _)
        val need = math.max(2L, 10L * math.max(1L, maxRows))
        math.min(26,
          math.max(10, 64 - java.lang.Long.numberOfLeadingZeros(need - 1)))
      }
    val rel = s"_manifests/bloom-${java.util.UUID.randomUUID()}.tsv"
    val sb = new StringBuilder
    if (baseFiles.nonEmpty)
      buildBloomWords(spark, schema, root, baseFiles, column,
        effLogBits, k).foreach { case (f, words) =>
          sb.append(bloomLine(f, words)) }
    locally {
      val p = Paths.get(root, rel)
      Files.createDirectories(p.getParent)
      Files.write(p, sb.toString.getBytes(StandardCharsets.UTF_8))
    }
    val idx = BloomIndex(column, effLogBits, k, rel, maintain)
    commitHead(root, "indexBloom") { cur =>
      require(cur.schemaDdl == cur0.schemaDdl,
        s"schema evolved during indexBloom: index was built for " +
          s"[${cur0.schemaDdl}], table now has [${cur.schemaDdl}]")
      // one live index per column: re-indexing replaces the old ref
      Some(bump(cur).copy(
        blooms = cur.blooms.filterNot(_.column == column) :+ idx))
    }
  }

  /** One scan of (`files`, `column`) → per-file bloom bitmap words
    * under (2^effLogBits bits, k probes) — the build shared by
    * [[indexBloom]] (all base files) and commit-time maintenance
    * ([[commitAppend]] on a `maintain` index: NEW files only). Every
    * requested file gets an entry: an empty or all-null file gets an
    * explicit all-zero bitmap, because absent-from-sidecar means "not
    * indexed, must open" — which would silently disable the index for
    * exactly the files it prunes best. */
  private def buildBloomWords(spark: SparkSession, schema: StructType,
      root: String, files: Seq[String], column: String, effLogBits: Int,
      k: Int): Seq[(String, Seq[Long])] = {
    import org.apache.spark.sql.functions.{array, bit_or, col, collect_list,
      explode, expr, input_file_name, lit, pmod, shiftrightunsigned,
      struct, xxhash64}
    val m = 1L << effLogBits
    val nWords = (m / 64).toInt
    val paths = files.map(f => Paths.get(root, f).toString)
    // one scan of (file, column): per-file k positions -> word ors ->
    // dense array; everything map-side combining on the (file, word)
    // key, result rows = nFiles (bitmap-sized, driver-safe by the
    // sidecar's own sizing contract)
    val h = xxhash64(col(column))
    val lo = h.bitwiseAND(lit(0xffffffffL))
    val hi = shiftrightunsigned(h, 32).bitwiseOR(lit(1L))
    val positions = (0 until k).map(i =>
      pmod(lo + lit(i.toLong) * hi, lit(m)))
    // densification happens DRIVER-SIDE from the sparse (word, bits)
    // pairs: the executor-side alternative — transform(sequence(...))
    // probing a collected MapType with element_at — is QUADRATIC,
    // because Spark's ArrayBasedMapData lookup is a linear scan
    // (measured: 2^22-bit bitmaps over 64 files = 46 MINUTES of
    // map probes vs seconds for this shape). The collected sparse
    // rows are <= nFiles*nWords structs — bitmap-sized by the
    // sidecar's own contract, same driver-memory class as the
    // sidecar itself.
    val rows = spark.read.schema(schema).parquet(paths: _*)
      .select(input_file_name().as("graft_file"), col(column))
      .filter(col(column).isNotNull)
      .select(col("graft_file"),
        explode(array(positions: _*)).as("pos"))
      .groupBy(col("graft_file"), expr("pos DIV 64").as("w"))
      .agg(bit_or(expr(
        "shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))"))
        .as("bits"))
      .groupBy(col("graft_file"))
      .agg(collect_list(struct(col("w"), col("bits"))).as("wb"))
      .collect()
    // URI -> manifest-relative path: input_file_name returns file: URIs
    val byPath = rows.map { r =>
      val uri = r.getString(0)
      val abs = Paths.get(java.net.URI.create(uri)).toString
      val relFile = Paths.get(root).toAbsolutePath.normalize
        .relativize(Paths.get(abs).toAbsolutePath.normalize).toString
      val words = new Array[Long](nWords)
      r.getSeq[org.apache.spark.sql.Row](1).foreach { p =>
        words(p.getLong(0).toInt) = p.getLong(1)
      }
      (relFile, words.toSeq)
    }.toSeq
    // measured-fill guard (conservative correctness is unaffected —
    // a saturated bitmap answers "maybe" everywhere — but it prunes
    // NOTHING while costing the index scan and commit, which is a
    // sizing bug worth shouting about; auto-sizing cannot trip this)
    byPath.foreach { case (f, words) =>
      val set = words.map(java.lang.Long.bitCount(_).toLong).sum
      if (set * 10 > m * 6)
        Console.err.println(s"[graft] WARNING bloom build($column): " +
          f"bitmap for $f is ${set * 100.0 / m}%.1f%% full " +
          s"(2^$effLogBits bits, k=$k) — the index will prune " +
          "(almost) nothing; pass logBits=0 to auto-size from row " +
          "counts")
    }
    val missing = files.toSet -- byPath.map(_._1).toSet
    byPath ++ missing.toSeq.map(f => (f, Seq.fill(nWords)(0L)))
  }

  private[sources] def newBloomMemo(): scala.collection.mutable
      .Map[(String, Int, Int), Seq[(String, Seq[Long])]] =
    scala.collection.mutable.Map.empty

  /** Commit-time BLOOM MAINTENANCE (opt-in per index via
    * `indexBloom(maintain = true)`), run by [[appendTransform]] for
    * every append path of both layers:
    * bitmaps for the NEW files on each maintained column, memoized
    * across rebase retries on the index parameters (the new files'
    * bitmaps do not depend on the base — only the sidecar merge does,
    * which is why the merge itself runs INSIDE the caller's retry loop
    * against the current head's sidecar). Without this, every append
    * leaves its files conservatively unindexed and a CDC-heavy table's
    * point-probe pruning decays until a manual re-index. Sidecars are
    * immutable: the maintained index is a fresh file = previous
    * content + the new files' lines. */
  private[sources] def maintainBlooms(spark: SparkSession, root: String,
      schemaDdl: String, files: Seq[String],
      memo: scala.collection.mutable.Map[(String, Int, Int),
        Seq[(String, Seq[Long])]],
      blooms: Seq[BloomIndex]): Seq[BloomIndex] =
    if (files.isEmpty) blooms
    else blooms.map { b =>
      if (!b.maintain) b
      else {
        val words = memo.getOrElseUpdate((b.column, b.logBits, b.k),
          buildBloomWords(spark, StructType.fromDDL(schemaDdl), root,
            files, b.column, b.logBits, b.k))
        val rel = s"_manifests/bloom-${java.util.UUID.randomUUID()}.tsv"
        val sb = new StringBuilder
        val old = Paths.get(root, b.file)
        if (Files.exists(old))
          sb.append(new String(Files.readAllBytes(old),
            StandardCharsets.UTF_8))
        words.foreach { case (f, w) => sb.append(bloomLine(f, w)) }
        val p = Paths.get(root, rel)
        Files.createDirectories(p.getParent)
        Files.write(p, sb.toString.getBytes(StandardCharsets.UTF_8))
        b.copy(file = rel)
      }
    }

  /** One encoded sidecar line: `file \t base64(words)`. */
  private def bloomLine(f: String, words: Seq[Long]): String = {
    val bytes = java.nio.ByteBuffer.allocate(words.length * 8)
    words.foreach(bytes.putLong)
    esc(f) + "\t" +
      java.util.Base64.getEncoder.encodeToString(bytes.array()) + "\n"
  }

  /** Load a bloom sidecar: data-file path → bitmap words. */
  private[sources] def bloomBitmaps(root: String,
      b: BloomIndex): Map[String, Array[Long]] = {
    val p = Paths.get(root, b.file)
    if (!Files.exists(p)) return Map.empty
    new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
      .split('\n').iterator.filter(_.nonEmpty).flatMap { line =>
        val f = line.split('\t')
        if (f.length != 2) None
        else {
          val bytes = java.util.Base64.getDecoder.decode(f(1))
          val words = new Array[Long](bytes.length / 8)
          val bb = java.nio.ByteBuffer.wrap(bytes)
          words.indices.foreach(i => words(i) = bb.getLong())
          Some(unesc(f(0)) -> words)
        }
      }.toMap
  }

  /** Driver-side twin of the executor-side hash: the probe value cast
    * to the COLUMN's type (so int-vs-long literals cannot diverge from
    * the build), then catalyst's own XxHash64 evaluated on the literal —
    * bit-identical to `xxhash64(col)` by construction. None when the
    * cast fails or the value is null (→ conservative, no skip). */
  private def bloomProbePositions(value: Any,
      dt: org.apache.spark.sql.types.DataType, logBits: Int,
      k: Int): Option[Seq[Long]] = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, Literal, XxHash64}
    try {
      val lit0 = Literal(value)
      val cast = if (lit0.dataType == dt) lit0
        else Cast(lit0, dt, Some("UTC"))
      val internal = cast.eval(null)
      if (internal == null) return None
      // seed 42 = the SQL xxhash64() default, the build side's seed
      val h = XxHash64(Seq(Literal(internal, dt)), 42L).eval(null)
        .asInstanceOf[Long]
      val m = 1L << logBits
      val lo = h & 0xffffffffL
      val hi = (h >>> 32) | 1L
      Some((0 until k).map(i => Math.floorMod(lo + i.toLong * hi, m)))
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  private def bloomHit(words: Array[Long], positions: Seq[Long]): Boolean =
    positions.forall { pos =>
      val w = (pos >>> 6).toInt
      w < words.length && ((words(w) >>> (pos & 63).toInt) & 1L) == 1L
    }

  /** Equality/IN conjuncts of `pred` that a FALSE bloom probe makes
    * decisive: walking only And nodes keeps the implication sound (a
    * file failing ANY conjunct cannot match the conjunction; inside an
    * Or a failing arm decides nothing). */
  private def eqConjuncts(p: StatsPred): Seq[StatsPred] = p match {
    case StatsPred.And(a, b) => eqConjuncts(a) ++ eqConjuncts(b)
    case e: StatsPred.Eq     => Seq(e)
    case i: StatsPred.In     => Seq(i)
    case _                   => Nil
  }

  /** Whether `file` may contain rows matching `pred`'s equality
    * conjuncts, per the manifest's bloom indexes. Conservative: files
    * absent from a sidecar, unindexed columns, unevaluable probe values
    * and empty IN lists all answer true. */
  private def bloomMayMatch(file: String, schema: StructType,
      pred: StatsPred,
      loaded: Seq[(BloomIndex, Map[String, Array[Long]])]): Boolean =
    eqConjuncts(pred).forall { c =>
      val (colName, values) = c match {
        case StatsPred.Eq(n, v)  => (n, Seq(v))
        case StatsPred.In(n, vs) => (n, vs)
        case _                   => return true
      }
      if (values.isEmpty) true
      else loaded.filter(_._1.column == colName).forall {
        case (idx, maps) =>
          maps.get(file) match {
            case None => true // file not indexed
            case Some(words) =>
              val dt = schema.fields(schema.fieldIndex(colName)).dataType
              // the file may match if ANY sought value might be present
              values.exists { v =>
                bloomProbePositions(v, dt, idx.logBits, idx.k) match {
                  case Some(ps) => bloomHit(words, ps)
                  case None     => true
                }
              }
          }
      }
    }

  // ------------------------------------------------------ commit protocol

  /** Create `target` holding `content` IFF it does not exist yet — the
    * one-winner primitive under both the table layer's [[publish]] and
    * the catalog's. The content goes to a `.tmp-` sibling first (never a
    * committed name, so a crash leaves only scratch), then is hard-linked
    * into place. True if this writer won `target`. */
  private[sources] def linkNew(target: Path, content: String): Boolean = {
    val dir = target.getParent
    Files.createDirectories(dir)
    val tmp = dir.resolve(s".tmp-${java.util.UUID.randomUUID()}")
    Files.write(tmp, content.getBytes(StandardCharsets.UTF_8))
    try {
      // hard-link creation is atomic and fails iff the target exists —
      // exactly the one-winner-per-version primitive the protocol needs
      Files.createLink(target, tmp)
      true
    } catch {
      case _: java.nio.file.FileAlreadyExistsException => false
    } finally Files.deleteIfExists(tmp)
  }

  /** Atomically publish `m` as version `m.version`. True if this writer
    * won the version; false if another commit got there first. The
    * commit wall-clock is stamped HERE, unconditionally: publish IS the
    * commit instant, and manifests built by copy() would otherwise carry
    * their base's clock. Immutable manifests make it exact forever — the
    * TIMESTAMP AS OF resolution base. */
  private def publish(root: String, m: Manifest): Boolean =
    linkNew(manifestPath(root, m.version),
      render(m.copy(ts = System.currentTimeMillis())))

  private[sources] val MaxRetries = 64

  /** THE COMMIT PROTOCOL. Every commit of the table layer, the catalog
    * and the SQL commands is one call of this loop: `step` reads the
    * current head, derives the next state from it and tries to publish;
    * `Some` ends the loop with the result, `None` means another writer
    * won the version race, and the next attempt starts from the new
    * head. After [[MaxRetries]] lost races the commit fails loudly.
    *
    *   - REBASE vs RESTART. Work that does not depend on the base is done
    *     once, before the loop: data files, their stats sidecar, the
    *     new files' bloom bitmaps ([[NewFiles]]), a merge-on-read layer's
    *     winners. An attempt then only re-derives the tiny manifest
    *     against the new head — appends, merge-on-read layers, deletes
    *     and metadata commits REBASE, so concurrent writers all land in
    *     version order. Read-modify-write commits (optimize, compaction,
    *     CoW merge, the SQL MERGE/UPDATE CAS) depend on the base's
    *     content: they RESTART — recompute from the new head — because
    *     publishing a rewrite of a stale base would silently drop the
    *     interleaved commit.
    *   - TXN HORIZON. The idempotent commits ([[commitAppendOnce]],
    *     [[mergeOnReadOnce]], [[Catalog.commitStagedFilesOnce]]) dedup a
    *     writer transaction id against every RETAINED version, newest
    *     first, before writing anything, and re-check the versions that
    *     landed since after each lost race. Replays older than the
    *     [[vacuum]] retention are not deduped (Delta's txn contract), and
    *     the guard is against replays, not two live writers sharing one
    *     id (the publish is keyed by version, not by txn).
    *   - ORPHAN SCRATCH. A lost or abandoned attempt leaves what it wrote
    *     (data files, sidecars, segment and staged manifests) unreferenced
    *     by any version; [[vacuum]] / [[Catalog.vacuum]] sweep it. Nothing
    *     a loser wrote is ever reachable. */
  private[sources] def retrying[A](what: String)(step: => Option[A]): A = {
    var attempt = 0
    while (attempt < MaxRetries) {
      val r = step
      if (r.isDefined) return r.get
      attempt += 1
    }
    sys.error(s"$what lost $MaxRetries version races")
  }

  /** The next version of `m` with its writer txn cleared: a txn marks
    * exactly ONE commit's replay identity — carrying it into a later
    * version would make a replayed batch think it already landed there.
    * Every other field carries forward. */
  private[sources] def bump(m: Manifest): Manifest =
    m.copy(version = m.version + 1, base = m.version, txn = "")

  /** A REWRITE's manifest — create, overwrite, CoW merge, optimize: the
    * new files replace everything, so nothing of `prev`'s manifest
    * carries forward but its place in the chain. */
  private[sources] def rewrite(prev: Int, ddl: String, files: Seq[String],
      statsFile: String, cluster: Seq[String] = Nil): Manifest =
    Manifest(prev + 1, prev, ddl, files, statsFile = statsFile,
      cluster = cluster)

  /** One commit's new data files, with what every attempt reuses: their
    * own stats sidecar (an add-only layer's or a rewrite's — it depends
    * only on the new files, so it is written once, lazily) and their
    * bloom bitmaps (memoized across rebase retries by index parameters;
    * only the sidecar MERGE depends on the base). */
  private[sources] final class NewFiles(val spark: SparkSession,
      val root: String, val files: Seq[String],
      val stats: Map[String, Map[String, ColStats]]) {
    lazy val sidecar: String = writeStatsFile(root, stats)
    val bloomMemo = newBloomMemo()
  }

  /** Write `df` as new data files under `root` and harvest their stats. */
  private[sources] def newFiles(df: DataFrame, root: String): NewFiles = {
    val files = writeData(df, root)
    new NewFiles(df.sparkSession, root, files,
      harvestStats(df.sparkSession, root, files))
  }

  /** THE APPEND DERIVATION, shared by every append path of both layers:
    * the next manifest after adding `add`'s files to `cur`. On a LAYERED
    * table (merge-on-read in flight) the files land as an ADD-ONLY layer
    * ABOVE the chain — appended rows must never be suppressed by an
    * older layer's delete keys or predicate — carrying their own stats
    * sidecar so they stay prunable ([[pruneAddOnlyLayers]]). Otherwise
    * the inline sidecar composes the base's stats with the new files'
    * (it depends on the base, so each attempt writes its own); base
    * SEGMENTS carry forward by reference. Either way `maintain` blooms
    * gain the new files' bitmaps and every other field comes from `cur`
    * (the table's schema, which may be wider than the batch's). */
  private[sources] def appendTransform(add: NewFiles, cur: Manifest): Manifest = {
    val next = bump(cur).copy(blooms = maintainBlooms(add.spark, add.root,
      cur.schemaDdl, add.files, add.bloomMemo, cur.blooms))
    if (cur.layers.nonEmpty)
      next.copy(layers = cur.layers :+ MergeLayer("", add.files,
        if (add.files.isEmpty) "" else add.sidecar))
    else next.copy(files = cur.files ++ add.files,
      statsFile = writeStatsFile(add.root, fileStats(add.root, cur) ++ add.stats))
  }

  /** The head before a table's first commit: empty, version -1. */
  private[sources] def noTable(ddl: String): Manifest =
    Manifest(-1, -1, ddl, Nil)

  /** The head an append of `schema` builds on: the current manifest
    * (whose schema must accept the batch), or [[noTable]]. */
  private def appendBase(cur: Option[Manifest], schema: StructType): Manifest =
    cur match {
      case Some(m) =>
        require(appendCompatible(m.schemaDdl, schema),
          s"append schema mismatch: table has [${m.schemaDdl}], " +
            s"append has [${schema.toDDL}]")
        m
      case None => noTable(schema.toDDL)
    }

  /** Replay dedup of the idempotent commits: does a version of `vs`
    * above `floor` carry `txn`? Newest first with early exit — a replayed
    * batch is by construction recent, so the common hit is the last
    * manifest or two. Always false for the empty (no) txn, without
    * listing. */
  private def txnSeenAbove(root: String, txn: String, floor: Int,
      vs: => Seq[Int]): Boolean =
    txn.nonEmpty && vs.reverseIterator.takeWhile(_ > floor)
      .exists(v => snapshot(root, Some(v)).get.txn == txn)

  /** A REBASING table commit under writer transaction `txn` ("" = none):
    * dedup (see [[retrying]]), then `prepare` runs ONCE — it writes what
    * does not depend on the base and returns the derivation of the next
    * manifest from the head — then the publish loop. None = a replay. */
  private def commitOnce(root: String, what: String, txn: String)(
      prepare: => Option[Manifest] => Manifest): Option[Int] = {
    // ONE listing seeds both the initial scan and the `checked`
    // watermark: a second listing here would let a version landing
    // between the two slip past both the initial scan (not listed yet)
    // and the in-loop recheck (already below `checked`).
    val vs0 = if (txn.isEmpty) Nil else versions(root)
    if (txnSeenAbove(root, txn, -1, vs0)) return None
    var checked = vs0.lastOption.getOrElse(-1)
    val next = prepare
    retrying(s"$what under $root") {
      val cur = snapshot(root)
      val head = cur.fold(-1)(_.version)
      if (head > checked && txnSeenAbove(root, txn, checked, versions(root)))
        Some(None)
      else {
        checked = head
        val m = next(cur).copy(txn = txn)
        if (publish(root, m)) Some(Some(m.version)) else None
      }
    }
  }

  /** A table commit derived from the current head, which must exist:
    * `next` returns the manifest to publish, or None when there is
    * nothing to commit (the head version is the answer). */
  private def commitHead(root: String, what: String)(
      next: Manifest => Option[Manifest]): Int =
    retrying(s"$what under $root") {
      val cur = snapshot(root).getOrElse(
        sys.error(s"$what on a table with no commits under $root"))
      next(cur) match {
        case None    => Some(cur.version)
        case Some(m) => if (publish(root, m)) Some(m.version) else None
      }
    }

  /** OVERWRITE commit: the new snapshot references only `df`'s files.
    * Returns the committed version. An overwrite rebases trivially (its
    * content does not depend on the base), so it always eventually
    * lands; an attempt only lists the versions, never parses one. */
  def commitOverwrite(df: DataFrame, root: String): Int = {
    val add = newFiles(df, root)
    retrying(s"commitOverwrite under $root") {
      val base = versions(root).lastOption.getOrElse(-1)
      val m = rewrite(base, df.schema.toDDL, add.files, add.sidecar)
      if (publish(root, m)) Some(m.version) else None
    }
  }

  /** CREATE-ONLY commit: publish STRICTLY at version 0 — the race-free
    * ErrorIfExists primitive. A check-then-act (`versions(root).isEmpty`
    * then [[commitOverwrite]]) lets two concurrent creators BOTH pass
    * the check and both land (the loser rebasing onto v1), silently
    * violating the create contract; here the v0 hard link itself is the
    * one-winner arbiter — the loser fails loudly and its data files are
    * vacuum scratch. Throws [[IllegalArgumentException]] when any
    * version already exists (before writing data) or when the v0
    * publish loses the link race (after). */
  def commitCreate(df: DataFrame, root: String): Int = {
    def already = new IllegalArgumentException(
      s"graft: table at $root already has committed versions")
    if (versions(root).nonEmpty) throw already // cheap pre-check only
    val add = newFiles(df, root)
    if (!publish(root, rewrite(-1, df.schema.toDDL, add.files, add.sidecar)))
      throw already
    0
  }

  /** APPEND commit: the new snapshot references the CURRENT snapshot's
    * files plus `df`'s ([[appendTransform]]); a lost race rebases, so
    * concurrent appends all land, each including every earlier winner's
    * files (serializable: appends commute through the rebase). The
    * appended schema must match the table's. The txn-less case of
    * [[commitAppendOnce]]. */
  def commitAppend(df: DataFrame, root: String): Int =
    appendOnce(df, root, "").get

  /** SEGMENTED append — the O(touched-metadata) commit the manifest-
    * list tier exists for: `df`'s files land as ONE new segment (its
    * own file list + stats sidecar + aggregated summary), and the new
    * manifest names the base's segments BY REFERENCE plus the new one —
    * commit metadata cost is O(new files + number of segments), never
    * O(all files). The base's inline files and sidecar also carry
    * forward by reference (sidecars are immutable; two manifests may
    * share one). The segment file is written once (its content does not
    * depend on the base). */
  def appendSegment(df: DataFrame, root: String): Int = {
    val files = writeData(df, root)
    val ref = writeSegment(root, files,
      harvestStats(df.sparkSession, root, files), df.schema)
    retrying(s"appendSegment under $root") {
      val cur = appendBase(snapshot(root), df.schema)
      // a segment lands at BASE level, below any merge-on-read layer —
      // its rows would be suppressed by older layers' delete keys,
      // which is never what an append means. Fold the layers first.
      require(cur.layers.isEmpty,
        s"appendSegment on a table with ${cur.layers.size} merge-on-read " +
          "layer(s): optimize() to fold them first (or use commitAppend, " +
          "which lands as an add-only layer)")
      val m = bump(cur).copy(segments = cur.segments :+ ref)
      if (publish(root, m)) Some(m.version) else None
    }
  }

  /** METADATA-ONLY manifest compaction (Iceberg's rewrite-manifests
    * action): regroup the current snapshot's complete file list into
    * `targetSegments` fresh segments — data files UNTOUCHED, content
    * bit-identical — and commit the regrouping as a new version. Use
    * it when many small appends have accreted many small segments: the
    * manifest list shrinks to `targetSegments` entries and segment-
    * level pruning gets coarser-but-fewer summaries to test. Grouping
    * preserves the existing file order (ingest/z-order order is what
    * makes neighboring files' ranges adjacent, which is what makes the
    * regrouped summaries tight). Bloom indexes carry forward: their
    * sidecars key on data files, which do not change. Restarts on a lost
    * race (the grouping depends on the head's file list). */
  def rewriteManifests(root: String, targetSegments: Int): Int = {
    require(targetSegments >= 1, "targetSegments must be >= 1")
    commitHead(root, "rewriteManifests") { cur =>
      require(cur.layers.isEmpty,
        s"rewriteManifests on a table with ${cur.layers.size} merge-on-" +
          "read layer(s): a manifest rewrite regroups BASE files only — " +
          "optimize() to fold the layers first")
      val schema = StructType.fromDDL(cur.schemaDdl)
      val files = allFiles(root, cur)
      val stats = allFileStats(root, cur)
      val groups =
        if (files.isEmpty) Seq.empty
        else {
          val per = math.max(1,
            math.ceil(files.size.toDouble / targetSegments).toInt)
          files.grouped(per).toSeq
        }
      val refs = groups.map { g =>
        val inG = g.toSet
        writeSegment(root, g, stats.filter { case (f, _) => inG(f) },
          schema)
      }
      Some(bump(cur).copy(files = Nil, statsFile = "", segments = refs))
    }
  }

  /** IDEMPOTENT append — the Delta `txn` action pattern for exactly-once
    * streaming sinks: if any RETAINED manifest already carries `txn`, the
    * commit is a no-op returning None (a replayed micro-batch after a
    * sink crash); otherwise appends with the txn recorded in the new
    * manifest. The dedup horizon and its contract are the commit
    * protocol's ([[retrying]]). The streaming sink routes HERE, which is
    * exactly the append-heaviest path maintained bloom indexes exist for.
    */
  def commitAppendOnce(df: DataFrame, root: String,
      txn: String): Option[Int] = {
    require(txn.nonEmpty, "txn id must be non-empty")
    appendOnce(df, root, txn)
  }

  private def appendOnce(df: DataFrame, root: String,
      txn: String): Option[Int] =
    commitOnce(root, if (txn.isEmpty) "commitAppend" else "commitAppendOnce",
      txn) {
      val add = newFiles(df, root)
      cur => appendTransform(add, appendBase(cur, df.schema))
    }

  // --------------------------------------------------- schema evolution

  /** Union of a table schema and an incoming batch schema, for
    * add-column-with-NULL-backfill evolution (the reference's own
    * migration semantics — `/root/reference/migrate.py:89-94` back-fills
    * absent columns as NULL). Result = the table's columns in their
    * order, then incoming-only columns in theirs. A column present on
    * BOTH sides must carry the identical data type (type CHANGES are not
    * evolution — loud error); any column absent from either side becomes
    * nullable, because null backfill makes nulls observable. */
  /** Append-schema compatibility: identical column names and types in
    * order; an append column may be NON-nullable where the table is
    * nullable (reading non-null values under a nullable schema is
    * always sound — the widening every SQL INSERT produces), never the
    * reverse. The committed manifest keeps the TABLE's schema. */
  private[sources] def appendCompatible(tableDdl: String,
      in: StructType): Boolean = {
    val table = StructType.fromDDL(tableDdl)
    table.length == in.length && table.fields.zip(in.fields).forall {
      case (t, i) => t.name == i.name && t.dataType == i.dataType &&
        (t.nullable || !i.nullable)
    }
  }

  private[graft] def mergeSchemas(table: StructType,
      incoming: StructType): StructType = {
    val inByName = incoming.fields.map(f => f.name -> f).toMap
    val tabNames = table.fieldNames.toSet
    val evolved = table.fields.map { tf =>
      inByName.get(tf.name) match {
        case Some(inf) =>
          require(inf.dataType == tf.dataType,
            s"schema evolution cannot change a column type: " +
              s"${tf.name} is ${tf.dataType.sql}, incoming has " +
              s"${inf.dataType.sql}")
          tf.copy(nullable = tf.nullable || inf.nullable)
        case None => tf.copy(nullable = true) // backfilled on the append
      }
    }
    val added = incoming.fields.filterNot(f => tabNames(f.name))
      .map(_.copy(nullable = true)) // backfilled on every earlier file
    StructType(evolved ++ added)
  }

  /** APPEND with SCHEMA EVOLUTION: like [[commitAppend]], but the new
    * snapshot's schema is the UNION of the table's and the batch's —
    * columns the batch adds are read as NULL from every earlier data
    * file (parquet by-name resolution backfills them for free), and
    * columns the batch is missing are written as NULL literals (the
    * reference's migrate semantics). Earlier versions remain pinned to
    * their own manifests' narrower schema: time travel never widens.
    * Type changes fail loudly — evolution is add-column only. */
  def commitAppendEvolve(df: DataFrame, root: String): Int = {
    import org.apache.spark.sql.functions.{col, lit}
    var written: Option[(String, NewFiles)] = None // merged DDL -> files
    retrying(s"commitAppendEvolve under $root") {
      val cur = snapshot(root)
      val merged = cur match {
        case Some(m) => mergeSchemas(StructType.fromDDL(m.schemaDdl), df.schema)
        case None    => df.schema
      }
      val ddl = merged.toDDL
      // data files are written once per distinct merged schema; a lost
      // race against a same-schema winner reuses them (appends commute)
      val add = written match {
        case Some((d, a)) if d == ddl => a
        case _ =>
          val dfNames = df.columns.toSet
          val a = newFiles(df.select(merged.fields.toSeq.map { f =>
            if (dfNames(f.name)) col(f.name)
            else lit(null).cast(f.dataType).as(f.name)
          }: _*), root)
          written = Some((ddl, a)); a
      }
      // evolution keeps the base files' OLD stats untouched: the added
      // column simply has no entry for them, and a missing entry never
      // justifies a skip — readWhere falls back to opening the file,
      // where parquet's by-name resolution backfills NULLs (older layer
      // files read back through the WIDENED schema the same way)
      val m = appendTransform(add,
        cur.getOrElse(noTable(ddl)).copy(schemaDdl = ddl))
      if (publish(root, m)) Some(m.version) else None
    }
  }

  // ------------------------------------------------ optimize (compaction)

  /** OPTIMIZE: rewrite the CURRENT snapshot's rows into `targetFiles`
    * fresh data files (optionally z-order clustered over `zorderBy` via
    * [[graft.operators.Layout.zOrder]]) and commit the rewrite as a new
    * version with BIT-IDENTICAL content — the lakehouse compaction
    * action. The old small files stay referenced by earlier manifests
    * (pinned readers are untouched) and become [[vacuum]]-eligible once
    * those versions age out. Read-modify-write: a lost race restarts the
    * rewrite from the new head. Returns the committed version. */
  def optimize(spark: SparkSession, root: String, targetFiles: Int = 1,
      zorderBy: Seq[String] = Nil): Int = {
    require(targetFiles >= 1, "targetFiles must be >= 1")
    commitHead(root, "optimize") { cur =>
      val df = read(spark, root, Some(cur.version))
      val rewritten =
        if (zorderBy.nonEmpty)
          graft.operators.Layout.zOrder(df, zorderBy,
            partitions = targetFiles).drop("zkey")
        else df.repartition(targetFiles)
      // compaction rewrites every row into fresh files — fresh footers,
      // fresh stats; z-ordering is precisely what makes these ranges
      // DISJOINT enough for readWhere to skip most of them
      val add = newFiles(rewritten, root)
      // the clustering SPEC is recorded in the manifest (Delta/Iceberg
      // clustering-columns idea): later appends carry it forward, and
      // [[optimizeIncremental]] uses it to re-cluster only the files
      // whose key ranges overlap. A plain repartition destroys any
      // clustering, so it clears the spec.
      Some(rewrite(cur.version, cur.schemaDdl, add.files, add.sidecar,
        cluster = zorderBy))
    }
  }

  /** INCREMENTAL RE-CLUSTER — the Iceberg rewrite-data-files-with-
    * filter shape: re-sort ONLY the inline files whose key ranges
    * OVERLAP another file's, leaving every already-disjoint file
    * byte-untouched in the manifest. The clustering spec comes from the
    * manifest itself ([[optimize]] records `zorderBy`; appends carry it
    * forward), so the maintenance job needs no arguments: appends
    * accrete files that straddle the clustered layout, and a cadence
    * call re-sorts exactly the straddled region — O(overlapping bytes)
    * per run, never O(table), with pruning parity against a full
    * re-cluster for any predicate outside the rewritten region (those
    * files ARE the original files).
    *
    * Overlap is computed on the LEADING cluster column's per-file
    * min/max from the stats sidecar (exact for single-column
    * clustering; conservative for multi-column z-order, where
    * interleaving makes leading-column ranges wider). A file without a
    * usable range conservatively joins the rewrite set. Groups are
    * connected components of interval overlap; singleton groups are
    * already in place. Merge-on-read layers are PRESERVED (suppression
    * is by key/predicate, never by file location); bloom indexes carry
    * forward with rewritten files conservatively unindexed (re-index or
    * maintain to restore probe sharpness). Segment-resident files are
    * out of scope like [[compactSmallFiles]]. Returns the committed
    * version, or the current version unchanged when fewer than two
    * files overlap. */
  def optimizeIncremental(spark: SparkSession, root: String): Int =
    commitHead(root, "optimizeIncremental") { cur =>
      require(cur.cluster.nonEmpty,
        s"optimizeIncremental under $root: no clustering spec in the " +
          "manifest — run optimize(zorderBy = ...) once to establish " +
          "the layout")
      val schema = StructType.fromDDL(cur.schemaDdl)
      val keyCol = cur.cluster.head
      val dt = schema.fields.find(_.name == keyCol).map(_.dataType)
        .getOrElse(sys.error(s"cluster column '$keyCol' missing from " +
          s"schema ${cur.schemaDdl}"))
      val stats = fileStats(root, cur)
      // leading-column interval per file; None = no usable range
      val intervals: Seq[(String, Option[(Any, Any)])] =
        cur.files.map { f =>
          val rng = for {
            cs <- stats.get(f).flatMap(_.get(keyCol))
            mnS <- cs.min; mxS <- cs.max
            mn <- normalize(dt, mnS); mx <- normalize(dt, mxS)
          } yield (mn, mx)
          (f, rng)
        }
      val rangeless = intervals.collect { case (f, None) => f }
      val ranged = intervals.collect { case (f, Some(r)) => (f, r) }
        .sortWith { case ((_, (a, _)), (_, (b, _))) =>
          cmpNorm(a, b).exists(_ < 0) }
      // sweep: connected components of interval overlap
      val groups = scala.collection.mutable
        .ArrayBuffer.empty[scala.collection.mutable.ArrayBuffer[String]]
      var curMax: Option[Any] = None
      ranged.foreach { case (f, (mn, mx)) =>
        val joins = curMax.exists(m => cmpNorm(mn, m).exists(_ <= 0))
        if (joins) {
          groups.last += f
          if (cmpNorm(mx, curMax.get).exists(_ > 0)) curMax = Some(mx)
        } else {
          groups += scala.collection.mutable.ArrayBuffer(f)
          curMax = Some(mx)
        }
      }
      val rewriteSet =
        (groups.filter(_.size >= 2).flatten ++ rangeless).toSeq
      if (rewriteSet.size < 2) None // layout already disjoint
      else Some(replaceInline(root, cur, stats, rewriteSet,
        graft.operators.Layout.zOrder(
          spark.read.schema(schema).parquet(
            rewriteSet.map(f => Paths.get(root, f).toString): _*),
          cur.cluster, partitions = rewriteSet.size).drop("zkey")))
    }

  /** The next manifest after replacing the inline files `old` by
    * `packed`'s rows (written here): surviving files keep their entries
    * of `stats` (the head's inline sidecar), the new files get fresh
    * footer stats, and everything else — segments, layers, blooms,
    * cluster — carries forward. */
  private def replaceInline(root: String, cur: Manifest,
      stats: Map[String, Map[String, ColStats]], old: Seq[String],
      packed: DataFrame): Manifest = {
    val add = newFiles(packed, root)
    val keep = cur.files.filterNot(old.toSet)
    bump(cur).copy(files = keep ++ add.files, statsFile = writeStatsFile(
      root, stats.view.filterKeys(keep.toSet).toMap ++ add.stats))
  }

  /** PARTIAL (BIN-PACK) COMPACTION — the incremental maintenance
    * [[optimize]] deliberately is not: rewrite ONLY the inline data
    * files at or under `maxBytes` into `targetFiles` fresh files,
    * leaving every larger file BYTE-UNTOUCHED in the manifest (the
    * Iceberg rewrite-data-files binpack shape). This is what a
    * streaming/append-heavy table runs on a cadence: many small
    * commits accrete many small files, and re-packing them costs
    * O(small bytes), never O(table). Segment-resident files are out of
    * scope (segment membership is immutable — regroup via
    * [[rewriteManifests]] or fold via [[optimize]]); merge-on-read
    * layers are PRESERVED and stay correct, because layer suppression
    * is by KEY (or predicate), never by file — a base row's location
    * is irrelevant to the fold. Returns the committed version, or the
    * CURRENT version unchanged when fewer than two files qualify
    * (nothing to pack — no empty commit). Read-modify-write: a lost
    * race restarts selection AND rewrite from the new head. */
  def compactSmallFiles(spark: SparkSession, root: String,
      maxBytes: Long, targetFiles: Int = 1): Int = {
    require(maxBytes > 0, "maxBytes must be positive")
    require(targetFiles >= 1, "targetFiles must be >= 1")
    commitHead(root, "compactSmallFiles") { cur =>
      val small = cur.files.filter(f =>
        Files.size(Paths.get(root, f)) <= maxBytes)
      if (small.size < 2) None
      else Some(replaceInline(root, cur, fileStats(root, cur), small,
        spark.read.schema(StructType.fromDDL(cur.schemaDdl))
          .parquet(small.map(f => Paths.get(root, f).toString): _*)
          .repartition(targetFiles)))
    }
  }

  // --------------------------------------------------------------- merge

  /** Transactional row-level MERGE — the Delta `MERGE INTO` core on this
    * store's primitives: fold a latest-wins changelog (upserts + delete
    * tombstones, each versioned) into the CURRENT snapshot and commit
    * the result as a new version. Semantics are EXACTLY
    * [[graft.operators.Temporal.applyChangelog]]'s (highest version per
    * key wins; tombstones delete; unmatched base rows pass through;
    * unmatched upserts insert), and the write side is an overwrite
    * commit — new immutable files, fresh footer stats, pinned readers
    * untouched, replaced files vacuum-eligible once their versions age
    * out. Read-modify-write like [[optimize]]: a lost race restarts the
    * fold from the new head.
    *
    * Cost shape: O(base + changes) per merge — the copy-on-write
    * trade every snapshot store makes without row-level delete files;
    * amortize by batching changelogs ([[commitAppendOnce]] for the
    * ingest side) and merging on a cadence. `changes` must carry every
    * base column plus `versionCol` and `deleteCol`.
    */
  def merge(spark: SparkSession, root: String, changes: DataFrame,
      key: String, versionCol: String, deleteCol: String,
      skipPartialAgg: Boolean = false): Int =
    commitHead(root, "merge") { cur =>
      val base = read(spark, root, Some(cur.version))
      val add = newFiles(graft.operators.Temporal.applyChangelog(
        base, changes, key, versionCol, deleteCol, skipPartialAgg), root)
      Some(rewrite(cur.version, base.schema.toDDL, add.files, add.sidecar))
    }

  /** The changelog fold shared by [[mergeOnRead]] and
    * [[mergeOnReadOnce]]: per-key winners (latest version's payload +
    * tombstone flag) in table-column order — exactly the
    * [[graft.operators.Temporal.applyChangelog]] max_by shape minus the
    * base join. */
  private def foldChangeWinners(changes: DataFrame, schema: StructType,
      key: String, versionCol: String, deleteCol: String,
      skipPartialAgg: Boolean): DataFrame = {
    import org.apache.spark.sql.functions.{col, struct, max_by, coalesce, lit}
    val cols = schema.fieldNames.toSeq
    require(cols.contains(key), s"table must carry $key")
    val payload = struct(
      coalesce(col(deleteCol), lit(false)).as(LayerDelCol) +:
        cols.filter(_ != key).map(col): _*)
    val pre = if (skipPartialAgg) changes.repartition(col(key)) else changes
    pre.groupBy(col(key))
      .agg(max_by(payload, col(versionCol)).as("graft_w"))
      .select(cols.map(c =>
        if (c == key) col(key) else col(s"graft_w.$c").as(c)) :+
        col(s"graft_w.$LayerDelCol").as(LayerDelCol): _*)
  }

  /** MERGE-ON-READ — the O(changes) merge: fold the changelog to its
    * per-key winners (the exact [[graft.operators.Temporal
    * .applyChangelog]] max_by shape, minus the base join — THE BASE IS
    * NEVER READ) and commit them as one [[MergeLayer]]; reads apply the
    * layer as an anti-join + union ([[applyLayers]]), yielding content
    * BIT-IDENTICAL to what the copy-on-write [[merge]] would have
    * rewritten (spec + q125 gate pin the hash equality). Wall and I/O
    * scale with |changes| alone — the deletion-vector/equality-delete
    * trade every table format ships for base ≫ daily-changes — at the
    * price of one small anti-join per accreted layer on every read;
    * [[optimize]] (or a CoW [[merge]]) folds the layers back into
    * plain base files. The layer content depends only on `changes`, so
    * it is written ONCE and the publish rebases (concurrent mergeOnReads
    * serialize into layer order = version order — the same result as
    * running them sequentially). Changelog contract as [[merge]]:
    * non-null keys, `(key, version)` unique, null tombstone flag =
    * insert. The txn-less case of [[mergeOnReadOnce]]. */
  def mergeOnRead(spark: SparkSession, root: String, changes: DataFrame,
      key: String, versionCol: String, deleteCol: String,
      skipPartialAgg: Boolean = false): Int =
    layerOnce(root, changes, key, versionCol, deleteCol, "",
      skipPartialAgg).get

  /** [[mergeOnRead]] with [[commitAppendOnce]]'s replay idempotence —
    * the streaming-CDC-upsert primitive: a micro-batch replayed after a
    * sink crash (txn already in a retained manifest) returns None and
    * commits NOTHING, so the layer chain stays exactly one layer per
    * logical batch. Same dedup protocol and contract as the append twin
    * ([[retrying]]). */
  def mergeOnReadOnce(spark: SparkSession, root: String,
      changes: DataFrame, key: String, versionCol: String,
      deleteCol: String, txn: String,
      skipPartialAgg: Boolean = false): Option[Int] = {
    require(txn.nonEmpty, "txn id must be non-empty")
    layerOnce(root, changes, key, versionCol, deleteCol, txn,
      skipPartialAgg)
  }

  private def layerOnce(root: String, changes: DataFrame, key: String,
      versionCol: String, deleteCol: String, txn: String,
      skipPartialAgg: Boolean): Option[Int] = {
    val what = if (txn.isEmpty) "mergeOnRead" else "mergeOnReadOnce"
    commitOnce(root, what, txn) {
      val head0 = snapshot(root)
      require(head0.nonEmpty, s"$what into a table with no commits under $root")
      val cur0 = head0.get
      val layer = MergeLayer(key, writeData(foldChangeWinners(changes,
        StructType.fromDDL(cur0.schemaDdl), key, versionCol, deleteCol,
        skipPartialAgg), root))
      curOpt => {
        val cur = curOpt.get
        require(cur.schemaDdl == cur0.schemaDdl,
          s"schema evolved during $what: winners were built for " +
            s"[${cur0.schemaDdl}], table now has [${cur.schemaDdl}]")
        bump(cur).copy(layers = cur.layers :+ layer)
      }
    }
  }

  /** PREDICATE-LEVEL DELETE as a MERGE-ON-READ layer — the
    * GDPR/right-to-be-forgotten shape (`DELETE FROM t WHERE p`) the
    * keyed changelog cannot express without first materializing the
    * matching keys: commit is pure METADATA — zero data files written,
    * zero data read. Two composable pieces:
    *
    *   - Inline base files whose stats PROVE every row matches `p`
    *     ([[mustMatch]]: range inside the predicate, zero nulls) DROP
    *     from the manifest's file list outright — on a table clustered
    *     by the delete column that is most of the deleted volume gone
    *     for the cost of a metadata walk (the Iceberg metadata-delete /
    *     Delta partition-delete idea at file granularity). Segment-
    *     resident files keep their segments intact (the layer covers
    *     them).
    *   - One predicate layer appends to the chain carrying the
    *     serialized predicate; reads fold it in commit order as
    *     `filter(NOT coalesce(p, false))` (SQL DELETE semantics: NULL
    *     keeps) — rows layers add LATER are untouched, exactly like a
    *     delete that committed before them.
    *
    * [[optimize]]/[[merge]] fold the layer away (their read applies
    * it); [[vacuum]] needs no new rules (the layer has no files; the
    * dropped base files age out with their versions). Cost at 100 TB:
    * the commit is O(inline-file stats walk) metadata; the read tax is
    * one codegen'd filter — cheaper than any keyed layer. Unknown
    * predicate columns fail loudly. A lost race rebases: the drop set
    * recomputes against the new head. Returns the committed version. */
  def deleteWhere(spark: SparkSession, root: String,
      pred: StatsPred): Int =
    commitHead(root, "deleteWhere")(cur =>
      Some(deleteTransform(root, cur, pred)))

  /** The manifest TRANSFORM behind [[deleteWhere]], shared with
    * [[Catalog.deleteWhere]] (same semantics, catalog-published):
    * validate the predicate round-trips the manifest codec, drop
    * inline files the stats PROVE all-matching, and append one
    * data-less predicate layer. Pure metadata — no data read or
    * written. Returns the NEXT manifest (version bumped; caller
    * publishes through its own protocol). */
  private[sources] def deleteTransform(tableRoot: String, m: Manifest,
      pred: StatsPred): Manifest = {
    val rendered = renderPred(pred)
    // round-trip check on CANONICAL forms: the codec normalizes literal
    // types (java.sql.Date→LocalDate, Timestamp→Instant, Float→Double,
    // java BigDecimal→scala), so parsePred(rendered) == pred would
    // reject every documented StatsPred literal type that normalizes —
    // what must hold is that the rendering is a FIXED POINT of the
    // codec (render∘parse is identity on rendered strings), which is
    // exactly what a later manifest reader relies on.
    require(renderPred(parsePred(rendered)) == rendered,
      s"predicate must survive the manifest round-trip: $rendered")
    val schema = StructType.fromDDL(m.schemaDdl)
    val missing = predCols(pred) -- schema.fieldNames.toSet
    require(missing.isEmpty,
      s"deleteWhere predicate references unknown column(s) " +
        s"${missing.mkString(", ")} (schema: ${m.schemaDdl})")
    val stats = fileStats(tableRoot, m)
    val keep = m.files.filterNot(f =>
      stats.get(f).exists(s => mustMatch(s, schema, pred)))
    bump(m).copy(files = keep,
      layers = m.layers :+ MergeLayer("", Nil, "", rendered))
  }

  // -------------------------------------------------------------- vacuum

  /** Delete data files unreachable from the newest `keepVersions`
    * manifests, then the superseded manifests themselves. Readers pinned
    * to a RETAINED version are untouched; pinning older than the
    * retention horizon is the documented reader contract (same contract
    * every snapshot store ships). Returns the deleted file count.
    *
    * Two reachability guards beyond the version walk:
    *   - A root with ZERO committed v<N>.json versions fails loudly
    *     instead of computing an empty live set — a Catalog-managed
    *     table dir has only staged-*.json manifests by design, and
    *     "no versions → everything unreachable → delete all data"
    *     would destroy a live catalog table on a mistaken call.
    *   - Files and sidecars referenced by any staged-*.json manifest
    *     count as LIVE: staged manifests are the catalog layer's
    *     publish units (and, pre-publish, an in-flight transaction's),
    *     so the table-layer vacuum never pulls data out from under a
    *     catalog version. Sweeping orphaned staged manifests themselves
    *     is the catalog's job (it owns their reachability). */
  def vacuum(root: String, keepVersions: Int = 2): Int = {
    require(keepVersions >= 1, "must retain at least the current version")
    val vs = versions(root)
    require(vs.nonEmpty,
      s"vacuum of a root with no committed versions under $root — " +
        "either the table never committed or it is catalog-managed " +
        "(staged manifests only); refusing to treat every file as " +
        "unreachable")
    val keep = vs.takeRight(keepVersions).toSet
    val retained = vs.filter(keep).map(v => snapshot(root, Some(v)).get)
    // staged-*.json manifests (catalog publish units) keep their
    // references alive regardless of the version walk
    val stagedMs = stagedManifests(root).values.toSeq
    sweepTableDir(root, retained ++ stagedMs, keepStaged = None)
      .let { deleted =>
        vs.filterNot(keep).foreach(v => Files.deleteIfExists(
          manifestPath(root, v)))
        deleted
      }
  }

  /** All staged-*.json manifests under `root` (catalog publish units /
    * in-flight transactions), parsed, keyed by root-relative path. */
  private[sources] def stagedManifests(root: String)
      : Map[String, Manifest] = {
    val dir = manifestDir(root)
    if (!Files.isDirectory(dir)) Map.empty
    else {
      val it = Files.list(dir)
      try {
        val i = it.iterator().asInstanceOf[java.util.Iterator[Path]]
        val b = Map.newBuilder[String, Manifest]
        while (i.hasNext) {
          val f = i.next()
          val n = f.getFileName.toString
          if (n.startsWith("staged-") && n.endsWith(".json"))
            b += (s"_manifests/$n" -> parse(new String(
              Files.readAllBytes(f), StandardCharsets.UTF_8)))
        }
        b.result()
      } finally it.close()
    }
  }

  /** The shared GC sweep under one table root: close reachability over
    * `reachable` (a live manifest's segments are live; a live segment's
    * files + sidecar are live; layer files/sidecars are live), then
    * delete every dead stats-*.tsv and seg-*.json sidecar and every
    * dead data parquet. `keepStaged`: None = staged-*.json manifests are
    * never deleted (the table-layer [[vacuum]] contract — they belong to
    * the catalog, which must ALREADY have folded the live ones into
    * `reachable`); Some(live) = delete staged manifests outside `live`
    * (the catalog-layer sweep, which owns their reachability). Returns
    * the deleted DATA file count. */
  private[sources] def sweepTableDir(root: String,
      reachable: Seq[Manifest], keepStaged: Option[Set[String]]): Int = {
    val liveSegs: Set[String] =
      reachable.flatMap(_.segments.map(_.path)).toSet
    val segMs: Seq[Manifest] = reachable.flatMap(_.segments)
      .map(_.path).distinct.map { rel =>
        parse(new String(Files.readAllBytes(Paths.get(root, rel)),
          StandardCharsets.UTF_8))
      }
    val live: Set[String] =
      (reachable.flatMap(_.files) ++ segMs.flatMap(_.files) ++
        reachable.flatMap(_.layers.flatMap(_.files))).toSet
    // stats sidecars referenced by a reachable or live-segment manifest
    // stay; every other stats-*.tsv (superseded versions, lost-race
    // commit attempts) goes — same for seg-*.json files
    val liveStats: Set[String] =
      (reachable.map(_.statsFile) ++ segMs.map(_.statsFile) ++
        reachable.flatMap(_.layers.map(_.statsFile)))
        .filter(_.nonEmpty).toSet
    val liveBlooms: Set[String] =
      reachable.flatMap(_.blooms.map(_.file)).toSet
    val mDir = manifestDir(root)
    if (Files.isDirectory(mDir)) {
      val ms = Files.list(mDir)
      try {
        val i = ms.iterator().asInstanceOf[java.util.Iterator[Path]]
        while (i.hasNext) {
          val f = i.next()
          val n = f.getFileName.toString
          if (n.startsWith("stats-") && n.endsWith(".tsv") &&
              !liveStats.contains(s"_manifests/$n"))
            Files.delete(f)
          else if (n.startsWith("bloom-") && n.endsWith(".tsv") &&
              !liveBlooms.contains(s"_manifests/$n"))
            Files.delete(f)
          else if (n.startsWith("seg-") && n.endsWith(".json") &&
              !liveSegs.contains(s"_manifests/$n"))
            Files.delete(f)
          else if (n.startsWith("staged-") && n.endsWith(".json") &&
              keepStaged.exists(k => !k.contains(s"_manifests/$n")))
            Files.delete(f)
        }
      } finally ms.close()
    }
    var deleted = 0
    val dataDir = Paths.get(root, "data")
    if (Files.isDirectory(dataDir)) {
      val dirs = Files.list(dataDir)
      try {
        val i = dirs.iterator().asInstanceOf[java.util.Iterator[Path]]
        while (i.hasNext) {
          val d = i.next()
          val inner = Files.list(d)
          try {
            val j = inner.iterator().asInstanceOf[java.util.Iterator[Path]]
            while (j.hasNext) {
              val f = j.next()
              val rel = s"data/${d.getFileName}/${f.getFileName}"
              if (f.getFileName.toString.endsWith(".parquet") &&
                  !live.contains(rel)) {
                Files.delete(f); deleted += 1
              }
            }
          } finally inner.close()
          // empty data dirs (all files vacuumed) fold away; non-parquet
          // Spark side files (_SUCCESS, .crc) go with them
          val rest = Files.list(d)
          try {
            val j = rest.iterator().asInstanceOf[java.util.Iterator[Path]]
            val leftovers = {
              val b = Seq.newBuilder[Path]
              while (j.hasNext) b += j.next()
              b.result()
            }
            if (!leftovers.exists(_.getFileName.toString.endsWith(".parquet"))) {
              leftovers.foreach(Files.delete)
              Files.delete(d)
            }
          } finally rest.close()
        }
      } finally dirs.close()
    }
    deleted
  }

  // ---------------------------------------------------------------- diff

  /** Row-level snapshot DIFF — the table-format change feed (Delta CDF /
    * Iceberg changelog, reduced to its core): full rows present in
    * version `to` but not `from` tagged `added`, the reverse tagged
    * `removed`; rows in both (bag semantics — per-row multiplicity via a
    * count aggregate, so n copies → n diff rows when the count changes)
    * are absent. Plan: one count aggregate per side keyed by the full
    * row, one full-outer merge on the row struct — both map-side
    * combining; file pruning means an incremental consumer usually
    * diffs adjacent versions where most files are SHARED, and shared
    * files contribute identical counts that cancel.
    */
  /** How [[diff]] treats a schema change between the two versions:
    * [[SchemaChange.Error]] (default) fails loudly; [[SchemaChange.Common]]
    * aligns both sides on their COMMON projection (columns present in
    * both with the identical type, in the `from` version's order) — the
    * caller's explicit acknowledgement that rows equal on the shared
    * columns cancel even where the evolved column differs. */
  sealed trait SchemaChange
  object SchemaChange {
    case object Error extends SchemaChange
    case object Common extends SchemaChange
  }

  def diff(spark: SparkSession, root: String, from: Int, to: Int,
      onSchemaChange: SchemaChange = SchemaChange.Error): DataFrame = {
    val prev = read(spark, root, Some(from))
    // adjacent-version diffs (the change-feed consumer's shape) first try
    // the manifest-delta recognizer: a commit whose manifest delta is one
    // of the recognized O(changes) shapes diffs ONLY the touched rows —
    // same result (spec-pinned vs the generic two-sided diff), none of
    // the shared files scanned. NON-adjacent endpoint pairs telescope
    // the same recognizer across every intermediate commit
    // ([[telescopedDiff]]) when the composed scan cost beats the two
    // full endpoint scans. Anything else falls back to the generic full
    // two-sided aggregate.
    val inc =
      if (to == from + 1)
        (snapshot(root, Some(from)), snapshot(root, Some(to))) match {
          case (Some(pm), Some(cm)) =>
            incrementalDiffFrames(spark, root, pm, cm, prev,
              prunedPrev = Some(p =>
                readWhere(spark, root, p, Some(from))._1))
          case _ => IncDiff.Unrecognized
        }
      else if (to > from + 1) telescopedDiff(spark, root, from, to)
      else IncDiff.Unrecognized
    inc match {
      case IncDiff.Frame(df) => df
      case IncDiff.Empty     => emptyDiffFrame(spark,
        StructType.fromDDL(snapshot(root, Some(to)).get.schemaDdl))
      case IncDiff.Unrecognized =>
        diffFrames(prev, read(spark, root, Some(to)),
          onSchemaChange, s"v$from..v$to")
    }
  }

  /** NON-ADJACENT endpoint diff as a TELESCOPED composition of the
    * adjacent-commit incremental diffs (round-20, the natural extension
    * of r19's O(changes) recognizer): when EVERY commit in `(from, to]`
    * is recognizer-accepted, the endpoint diff is
    * [[collapseFeed]] of the per-commit incremental diffs — the signed
    * multiplicities telescope, `Σᵥ (n_{v+1}(x) − n_v(x)) =
    * n_to(x) − n_from(x)`, which is EXACTLY the changeFeed/collapseFeed
    * gate contract, so the result is bag-equal to the generic
    * `diffFrames(read(from), read(to))` including multiplicities
    * (spec-pinned by IncrementalDiffSpec's telescoping cases).
    *
    * The fast path is an optimization with a COST GATE, never a
    * semantics change. It declines (→ generic two-sided diff) when:
    *   - any intermediate manifest is missing (vacuumed chain);
    *   - any commit's delta is unrecognized (schema evolution, mapped
    *     tables on name-referencing shapes, overwrites onto layered
    *     chains, multi-shape suffixes);
    *   - the composed cost estimate loses: Σ per-commit input files
    *     (resolved from each incremental frame's OWN pruned file
    *     listing — the stats tier's actual decision, not a guess) vs
    *     the generic diff's `files(from) + files(to)`. A chain of
    *     near-full rewrites telescopes to MORE scanning than two
    *     endpoint scans and correctly falls back; a long chain of
    *     small commits (the CDC table shape this exists for) costs
    *     O(total changed data) instead of O(2 × table).
    */
  private[sources] def telescopedDiff(spark: SparkSession, root: String,
      from: Int, to: Int): IncDiff = {
    val have = versions(root).toSet
    if (!(from to to).forall(have)) return IncDiff.Unrecognized
    val manifests = (from to to).map(v => snapshot(root, Some(v)).get)
    val pairs = manifests.zip(manifests.tail)
    val parts = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    for (((pm, cm), i) <- pairs.zipWithIndex) {
      val v = from + i
      incrementalDiffFrames(spark, root, pm, cm,
          read(spark, root, Some(v)),
          prunedPrev = Some(p => readWhere(spark, root, p, Some(v))._1)) match {
        case IncDiff.Unrecognized => return IncDiff.Unrecognized
        case IncDiff.Empty        => ()
        case IncDiff.Frame(df)    => parts += df
      }
    }
    if (parts.isEmpty) return IncDiff.Empty
    // cost gate, in FILES (the unit the metadata tier prices): each
    // part's inputFiles is its plan's resolved (stats-pruned) listing —
    // metadata-only resolution, no scan
    def sideFiles(m: Manifest): Int =
      allFiles(root, m).size + m.layers.map(_.files.size).sum
    val touched = parts.map(_.inputFiles.length).sum
    val generic = sideFiles(manifests.head) + sideFiles(manifests.last)
    if (touched > generic) return IncDiff.Unrecognized
    IncDiff.Frame(collapseFeed(
      parts.reduce(_.unionByName(_, allowMissingColumns = false))))
  }

  /** [[diff]] of two already-resolved version frames — the shared core,
    * also driven by the SQL `t.changes` surface whose versions are
    * CATALOG-pinned manifests ([[Catalog.readTable]]) that the
    * table-root version chain never numbers. */
  private[graft] def diffFrames(a0: DataFrame, b0: DataFrame,
      onSchemaChange: SchemaChange, label: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val (a, b) =
      if (a0.schema == b0.schema) (a0, b0)
      else onSchemaChange match {
        case SchemaChange.Error =>
          throw new IllegalArgumentException(
            s"diff across schema change: $label from=[${a0.schema.toDDL}] " +
              s"to=[${b0.schema.toDDL}] (pass SchemaChange.Common to " +
              "align on the shared columns)")
        case SchemaChange.Common =>
          val bTypes = b0.schema.fields.map(f => f.name -> f.dataType).toMap
          val shared = a0.schema.fields.toSeq.collect {
            case f if bTypes.get(f.name).contains(f.dataType) => f.name
          }
          require(shared.nonEmpty,
            s"diff $label: no common columns to align on")
          (a0.select(shared.map(col): _*), b0.select(shared.map(col): _*))
      }
    val cols = a.columns.toSeq
    def counted(df: DataFrame, n: String) =
      df.groupBy(cols.map(col): _*).agg(count(lit(1)).as(n))
    // NULL-SAFE merge: a plain equi/USING join treats null ≠ null, so a
    // row with a null field present in both versions would surface as
    // BOTH removed and added — the merge must use <=> per column (rows
    // with null fields are still one grouped identity on each side)
    val l = counted(a, "n_from").as("l")
    val r = counted(b, "n_to").as("r")
    val cond = cols.map(c => col(s"l.$c") <=> col(s"r.$c"))
      .reduce(_ && _)
    l.join(r, cond, "full_outer")
      .select((cols.map(c => coalesce(col(s"l.$c"), col(s"r.$c")).as(c)) ++
        Seq(coalesce(col("n_from"), lit(0L)).as("n_from"),
          coalesce(col("n_to"), lit(0L)).as("n_to"))): _*)
      .filter(col("n_from") =!= col("n_to"))
      .withColumn("change",
        when(col("n_to") > col("n_from"), lit("added"))
          .otherwise(lit("removed")))
      .withColumn("n_rows", abs(col("n_to") - col("n_from")))
      .select((cols.map(col) :+ col("change") :+ col("n_rows")): _*)
  }

  /** Outcome of the adjacent-version manifest-delta recognizer:
    * [[IncDiff.Frame]] — the diff restricted to the rows the commit
    * could have touched (bag-equal to the generic two-sided
    * [[diffFrames]] by the decomposition argument below);
    * [[IncDiff.Empty]] — the commit provably changed no row (pure
    * metadata: bloom/cluster/rename bookkeeping); [[IncDiff
    * .Unrecognized]] — fall back to the generic diff. */
  private[sources] sealed trait IncDiff
  private[sources] object IncDiff {
    case object Unrecognized extends IncDiff
    case object Empty extends IncDiff
    final case class Frame(df: DataFrame) extends IncDiff
  }

  /** Key-set cap for the keyed incremental-diff branch's stats-tier
    * prune: above this many distinct layer keys the `IN` literal list
    * stops being a sensible expression/driver payload and the branch
    * keeps the unpruned semi-join (still correct, just O(prev fold)
    * scanned). */
  private[sources] val MaxKeyedPruneKeys = 256

  /** diffFrames-shaped empty frame (cols + change + n_rows) as a
    * LocalRelation, so empty-relation propagation deletes it from any
    * surrounding union at optimization time. */
  private[sources] def emptyDiffFrame(spark: SparkSession,
      schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](),
      StructType(schema.fields.toSeq ++ Seq(
        org.apache.spark.sql.types.StructField("change",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("n_rows",
          org.apache.spark.sql.types.LongType))))

  /** ADJACENT-version incremental diff — the O(changes) fast path of
    * [[diff]] and the SQL `t.changes` feed. Given the two manifests and
    * the already-resolved PREVIOUS version frame, recognize the commit's
    * manifest delta and, when it is one of the shapes below, produce the
    * diff by scanning ONLY what the commit touched. The decomposition
    * argument (why each shape is bag-equal to the generic
    * `diffFrames(folded_prev, folded_cur)`): if bags A = C ⊎ Rprev and
    * B = C ⊎ Rcur share the part C, then for every row x the count
    * delta n_B(x) − n_A(x) = n_Rcur(x) − n_Rprev(x) — the shared part
    * cancels IDENTICALLY, so `diffFrames(Rprev, Rcur)` equals
    * `diffFrames(A, B)` row-for-row including multiplicities. Each
    * recognized shape exhibits such a C:
    *
    *   - metadata-only commit (same files, segments, layers): C is
    *     everything — the diff is EMPTY, zero scans (a rename/bloom/
    *     cluster commit no longer pays two full table scans to learn
    *     nothing).
    *   - appended ADD-ONLY layer (same files/segments): Rprev = ∅,
    *     Rcur = the layer's files — one scan of the appended rows.
    *   - appended PREDICATE-DELETE layer (files may shrink —
    *     [[deleteTransform]] drops stats-proven fully-matching files,
    *     whose rows the predicate would have removed anyway, so
    *     folded_cur = folded_prev.filter(!coalesce(p, false)) exactly):
    *     Rprev = folded_prev.filter(coalesce(p, false)), Rcur = ∅ — the
    *     predicate pushes into the previous fold's base scan (the q131
    *     fold-pushdown property), so the scan is pruned, not full.
    *   - predicate layer + add-only layer (the UPDATE pair, committed
    *     together or across two adjacent recognizer calls): Rprev =
    *     folded_prev.filter(coalesce(p, false)), Rcur = the add layer's
    *     files; kept as a real [[diffFrames]] of the two candidate
    *     frames so an identity update (SET x = x) still cancels exactly
    *     as the generic diff would.
    *   - appended KEYED layer (merge-on-read upsert): Rprev =
    *     folded_prev restricted to the layer's keys (every layer key
    *     suppresses the older row — update or tombstone) — via the
    *     stats tier (`key IN (collected keys)` through the pruned
    *     reader) when the key set is small, else the unpruned
    *     semi-join; Rcur = the layer's non-tombstoned rows;
    *     [[diffFrames]] of the candidates so a re-upsert of an
    *     identical payload cancels.
    *   - same layer chain, BOTH chains empty, file set changed
    *     (copy-on-write merge / OPTIMIZE / compaction / plain append):
    *     Rprev = files only in prev, Rcur = files only in cur — a
    *     compaction that rewrote k of N files diffs k files' rows to an
    *     empty result instead of scanning 2N files.
    *
    * Column-name-referencing shapes (predicate, keyed) additionally
    * require both manifests UNMAPPED (`logical`/`dropped` empty):
    * layer predicates and keys speak PHYSICAL names, and `prevFolded`
    * arrives in the caller's presentation (logical for the catalog
    * surface) — with an active mapping the names could disagree, so the
    * recognizer declines rather than translate. Anything else —
    * schema evolution, overwrite onto a layered chain, multi-shape
    * suffixes beyond [pred, addOnly] — returns
    * [[IncDiff.Unrecognized]] and the caller runs the generic diff;
    * the fast path is an optimization, never a semantics change. */
  private[sources] def incrementalDiffFrames(spark: SparkSession,
      tableRoot: String, pm: Manifest, cm: Manifest,
      prevFolded: DataFrame,
      prunedPrev: Option[StatsPred => DataFrame] = None): IncDiff = {
    import org.apache.spark.sql.functions.{coalesce, col, count, lit, not}
    // structural schema equality — names, types, order. NULLABILITY is
    // deliberately ignored: append widening and fold/rewrite lanes
    // shift nullable flags between versions without changing a single
    // row, and the diff semantics never depend on declared nullability.
    def shape(ddl: String) = StructType.fromDDL(ddl).fields.toSeq
      .map(f => (f.name, f.dataType))
    if (shape(cm.schemaDdl) != shape(pm.schemaDdl))
      return IncDiff.Unrecognized
    if (cm.segments != pm.segments) return IncDiff.Unrecognized
    if (!cm.layers.startsWith(pm.layers)) return IncDiff.Unrecognized
    val schema = StructType.fromDDL(cm.schemaDdl)
    val cols = schema.fieldNames.toSeq
    val unmapped = pm.logical.isEmpty && pm.dropped.isEmpty &&
      cm.logical.isEmpty && cm.dropped.isEmpty
    val sameFiles = cm.files == pm.files
    // a predicate-delete commit may also DROP files — but only ones the
    // stats sidecar PROVES fully-matching ([[deleteTransform]]'s
    // mustMatch rule: their rows are exactly what the predicate filter
    // would remove, so folded_cur = folded_prev.filter(!p) still holds).
    // Re-prove it here instead of trusting the writer: a dropped file
    // without that proof makes the delta unrecognizable.
    def shrankByMustMatch(p: MergeLayer): Boolean = {
      val dropped = pm.files.filterNot(cm.files.toSet)
      dropped.nonEmpty && cm.files.toSet.subsetOf(pm.files.toSet) && {
        val stats = fileStats(tableRoot, pm)
        val pred = parsePred(p.pred)
        dropped.forall(f =>
          stats.get(f).exists(s => mustMatch(s, schema, pred)))
      }
    }
    def readFiles(files: Seq[String], s: StructType): DataFrame =
      spark.read.schema(s)
        .parquet(files.map(f => Paths.get(tableRoot, f).toString): _*)
    // replicate diffFrames' output shape exactly: grouped multiplicity,
    // (cols..., change, n_rows)
    def tag(df: DataFrame, change: String): DataFrame =
      df.groupBy(cols.map(col): _*)
        .agg(count(lit(1)).as("n_rows"))
        .select((cols.map(col) :+ lit(change).as("change") :+
          col("n_rows")): _*)
    def layerRows(l: MergeLayer): DataFrame =
      readFiles(l.files, schema)
    def predOf(l: MergeLayer) = predColumn(parsePred(l.pred))
    // the removed-candidate frame of a predicate-delete layer: with a
    // caller-supplied PRUNED reader (readWhere / readTableWhere pinned
    // at the previous version) the candidates come through the stats
    // tier — O(intersecting files) opened, not O(table) — and the
    // residual filter those readers apply IS the candidate predicate;
    // without one, filter the previous fold (predicate still pushes
    // into its base scan's row groups)
    def removedCand(l: MergeLayer): DataFrame = prunedPrev match {
      case Some(rd) => rd(parsePred(l.pred))
      case None => prevFolded.filter(coalesce(predOf(l), lit(false)))
    }
    def isAddOnly(l: MergeLayer) =
      l.key.isEmpty && l.pred.isEmpty && l.files.nonEmpty
    def isPred(l: MergeLayer) = l.pred.nonEmpty
    def isKeyed(l: MergeLayer) = l.key.nonEmpty && l.files.nonEmpty
    cm.layers.drop(pm.layers.length) match {
      case Seq() =>
        if (sameFiles) IncDiff.Empty
        else if (pm.layers.isEmpty && cm.layers.isEmpty) {
          val pmAll = allFiles(tableRoot, pm)
          val cmAll = allFiles(tableRoot, cm)
          val (pSet, cSet) = (pmAll.toSet, cmAll.toSet)
          val pOnly = pmAll.filterNot(cSet)
          val cOnly = cmAll.filterNot(pSet)
          if (pOnly.isEmpty && cOnly.isEmpty) IncDiff.Empty
          else {
            // each side reads under ITS OWN manifest's declared schema
            // (nullability may differ across the pair; Common aligns)
            def side(fs: Seq[String], ddl: String) =
              if (fs.isEmpty) emptyFrame(spark, StructType.fromDDL(ddl))
              else readFiles(fs, StructType.fromDDL(ddl))
            IncDiff.Frame(diffFrames(side(pOnly, pm.schemaDdl),
              side(cOnly, cm.schemaDdl), SchemaChange.Common,
              s"files v${pm.version}..v${cm.version}"))
          }
        } else IncDiff.Unrecognized
      case Seq(a) if isAddOnly(a) && sameFiles =>
        IncDiff.Frame(tag(layerRows(a), "added"))
      case Seq(p) if isPred(p) && unmapped &&
          (sameFiles || shrankByMustMatch(p)) =>
        IncDiff.Frame(tag(removedCand(p), "removed"))
      case Seq(p, a) if isPred(p) && isAddOnly(a) && unmapped &&
          (sameFiles || shrankByMustMatch(p)) =>
        IncDiff.Frame(diffFrames(removedCand(p),
          layerRows(a), SchemaChange.Common,
          s"update v${pm.version}..v${cm.version}"))
      case Seq(k) if isKeyed(k) && sameFiles && unmapped =>
        val lySchema = StructType(schema.fields :+
          org.apache.spark.sql.types.StructField(LayerDelCol,
            org.apache.spark.sql.types.BooleanType, nullable = true))
        val ly = readFiles(k.files, lySchema)
        // Rprev = prev rows whose key the layer touches. With a pruned
        // reader and a SMALL key set (round-20), route the base side
        // through the stats tier: collect the layer's distinct keys
        // (bounded — the layer holds changelog winners, O(changes)
        // rows) and read prev WHERE key IN (…), so the removed
        // candidates come from only the min/max-intersecting files —
        // O(intersecting) opened, not O(table). `key IN (ks)` filters
        // exactly the rows the semi-join keeps (null keys match
        // neither side), and the readers' residual filter applies the
        // predicate in full, so pruning stays an optimization. Large
        // or null-carrying key sets keep the unpruned semi-join.
        val keyedPrev = prunedPrev match {
          case Some(rd) =>
            val ks = ly.select(col(k.key)).distinct()
              .limit(MaxKeyedPruneKeys + 1).collect()
            if (ks.nonEmpty && ks.length <= MaxKeyedPruneKeys &&
                !ks.exists(_.isNullAt(0)))
              rd(StatsPred.In(k.key, ks.map(_.get(0)).toSeq))
            else
              prevFolded.join(ly.select(col(k.key)), Seq(k.key),
                "left_semi")
          case None =>
            prevFolded.join(ly.select(col(k.key)), Seq(k.key), "left_semi")
        }
        IncDiff.Frame(diffFrames(
          keyedPrev,
          ly.filter(not(coalesce(col(LayerDelCol), lit(false))))
            .drop(LayerDelCol),
          SchemaChange.Common,
          s"upsert v${pm.version}..v${cm.version}"))
      case _ => IncDiff.Unrecognized
    }
  }

  /** Empty frame with exactly `schema` as a LocalRelation. */
  private[sources] def emptyFrame(spark: SparkSession,
      schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)

  // --------------------------------------------------------- change feed

  /** Incremental CHANGE FEED: the per-commit diffs of every adjacent
    * version pair in `(from, to]`, unioned, each row tagged with the
    * `version` whose commit introduced it — what a downstream
    * incremental consumer reads instead of rescanning the table. An
    * adjacent-version diff prunes to the files the commit touched
    * (shared files contribute cancelling counts), so consuming the feed
    * costs O(changed data), not O(table). The feed REFINES the endpoint
    * diff: [[collapseFeed]] of this frame equals
    * `diff(root, from, to)` by construction (signed multiplicities
    * telescope), which is the gate/spec contract. */
  def changeFeed(spark: SparkSession, root: String, from: Int, to: Int,
      onSchemaChange: SchemaChange = SchemaChange.Error): DataFrame = {
    import org.apache.spark.sql.functions._
    require(from < to, s"changeFeed needs from < to, got $from..$to")
    (from until to).map { v =>
      diff(spark, root, v, v + 1, onSchemaChange)
        .withColumn("version", lit(v + 1))
    }.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** Collapse a [[changeFeed]] back to the endpoint diff: net signed
    * multiplicity per row across the feed (added = +n, removed = −n);
    * rows whose changes telescope to zero (added then removed, or an
    * unchanged count) disappear. One map-side-combining aggregate. */
  def collapseFeed(feed: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    val dataCols = feed.columns.toSeq
      .filterNot(Set("change", "n_rows", "version"))
    feed.groupBy(dataCols.map(col): _*)
      .agg(sum(when(col("change") === "added", col("n_rows"))
        .otherwise(-col("n_rows"))).as("net"))
      .filter(col("net") =!= 0L)
      .withColumn("change",
        when(col("net") > 0, lit("added")).otherwise(lit("removed")))
      .withColumn("n_rows", abs(col("net")))
      .select((dataCols.map(col) :+ col("change") :+ col("n_rows")): _*)
  }
}
