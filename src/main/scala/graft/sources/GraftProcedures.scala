package graft.sources

import java.util.Collections

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure,
  ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DataType, IntegerType, LongType,
  StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** The SQL-callable MAINTENANCE procedures of the graft catalog —
  * `CALL graft.system.<name>(...)` (Spark 4's ProcedureCatalog door):
  *
  *   - `vacuum(keep_versions, staged_grace_ms)` → [[Catalog.vacuum]]:
  *     expire catalog versions, sweep unreachable staged manifests,
  *     sidecars and data files. Returns `(deleted_files)`.
  *   - `optimize(table, target_files, zorder_by)` → copy-on-write
  *     compaction of one catalog table: read the current content (layer
  *     chain folds in), rewrite into `target_files` files — z-ordered
  *     when `zorder_by` names comma-separated columns, plain
  *     repartition when NULL — and commit through the
  *     [[Catalog.replaceTableIf]] CAS (a concurrent commit restarts the
  *     fold from the new head, never clobbers it). Returns
  *     `(catalog_version, files_before, files_after)`.
  *
  * With these, the whole lifecycle — CREATE/CTAS, INSERT, UPDATE,
  * DELETE, MERGE, ALTER, OPTIMIZE, VACUUM, time travel, streaming in
  * and out — is drivable from pure SQL. Procedures execute EAGERLY in
  * `call` and return their outcome as a [[LocalScan]] row (they are
  * actions, not queries — the Iceberg procedure semantics). */
private[sources] object GraftProcedures {

  val Ns = "system"

  val names: Seq[String] = Seq("vacuum", "optimize", "restore")

  def load(root: String, name: String): Option[UnboundProcedure] =
    name match {
      case "vacuum"   => Some(VacuumProc(root))
      case "optimize" => Some(OptimizeProc(root))
      case "restore"  => Some(RestoreProc(root))
      case _          => None
    }

  private def in(name: String, dt: DataType): ProcedureParameter =
    ProcedureParameter.in(name, dt).build()

  private def result(schema: StructType, row: InternalRow):
      java.util.Iterator[Scan] =
    Collections.singletonList(new LocalScan {
      override def rows(): Array[InternalRow] = Array(row)
      override def readSchema(): StructType = schema
    }: Scan).iterator()

  private final case class VacuumProc(root: String)
      extends UnboundProcedure with BoundProcedure {
    override def name(): String = "vacuum"
    override def description(): String =
      "expire old catalog versions and sweep unreachable files"
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false
    override def parameters(): Array[ProcedureParameter] = Array(
      in("keep_versions", IntegerType),
      in("staged_grace_ms", LongType))
    private val outSchema =
      StructType(Seq(StructField("deleted_files", IntegerType)))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val deleted = Catalog.vacuum(root, input.getInt(0),
        input.getLong(1))
      result(outSchema, new GenericInternalRow(
        Array[Any](deleted)))
    }
  }

  private final case class OptimizeProc(root: String)
      extends UnboundProcedure with BoundProcedure {
    override def name(): String = "optimize"
    override def description(): String =
      "copy-on-write compaction of one catalog table (folds layers; " +
        "z-orders when zorder_by is set)"
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false
    override def parameters(): Array[ProcedureParameter] = Array(
      in("table", StringType),
      in("target_files", IntegerType),
      in("zorder_by", StringType))
    private val outSchema = StructType(Seq(
      StructField("catalog_version", IntegerType),
      StructField("files_before", IntegerType),
      StructField("files_after", IntegerType)))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val table = input.getUTF8String(0).toString
      val targetFiles = input.getInt(1)
      require(targetFiles >= 1, "target_files must be >= 1")
      val zorderBy =
        if (input.isNullAt(2)) Nil
        else input.getUTF8String(2).toString.split(",").toSeq
          .map(_.trim).filter(_.nonEmpty)
      val spark = SparkSession.active
      // a concurrent commit to the table fails the CAS: refold
      SnapshotStore.retrying(s"optimize on $root/$table") {
        val snap = Catalog.snapshot(root).getOrElse(sys.error(
          s"optimize on a catalog with no committed versions: $root"))
        val rel = snap.tables.getOrElse(table, sys.error(
          s"catalog under $root has no table $table"))
        val m = Catalog.tableManifest(root, table,
          Some(snap.version)).get
        val before = SnapshotStore.allFiles(
          java.nio.file.Paths.get(root, table).toString, m).size
        val df = Catalog.readTable(spark, root, table,
          Some(snap.version))
        val rewritten =
          if (zorderBy.nonEmpty)
            graft.operators.Layout.zOrder(df, zorderBy,
              partitions = targetFiles).drop("zkey")
          else df.repartition(targetFiles)
        Catalog.replaceTableIf(root, table, rel, rewritten).map { v =>
          val after = Catalog.tableManifest(root, table, Some(v))
            .get.files.size
          result(outSchema, new GenericInternalRow(
            Array[Any](v, before, after)))
        }
      }
    }
  }

  /** `CALL graft.system.restore('t', v)` → [[Catalog.restoreTable]]:
    * roll one table back to its content at catalog version `v` as a
    * NEW commit — pure metadata (the staged manifest copies the target
    * by reference), history preserved, every interim version still
    * travelable. Returns `(catalog_version)` of the restore commit. */
  private final case class RestoreProc(root: String)
      extends UnboundProcedure with BoundProcedure {
    override def name(): String = "restore"
    override def description(): String =
      "restore a table to its content at a catalog version (new " +
        "commit, pure metadata, history preserved)"
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false
    override def parameters(): Array[ProcedureParameter] = Array(
      in("table", StringType),
      in("to_version", IntegerType))
    private val outSchema = StructType(Seq(
      StructField("catalog_version", IntegerType)))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val table = input.getUTF8String(0).toString
      val v = Catalog.restoreTable(root, table, input.getInt(1))
      result(outSchema, new GenericInternalRow(Array[Any](v)))
    }
  }
}
