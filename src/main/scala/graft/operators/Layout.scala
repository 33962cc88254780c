package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DateType

/** Z-order (Morton) data layout — multi-dimensional clustering for scan
  * locality, the lakehouse OPTIMIZE-ZORDER primitive: rows sorted by an
  * interleaved-bit key so that range predicates on ANY of the key columns
  * touch few contiguous key ranges, hence few files/row-groups after a
  * partitioned write. At 100 TB this is the difference between a
  * two-column filter pruning ~√F of F files (z-order) and pruning nothing
  * (single-column sort order helps only its own column).
  *
  * Everything is exact integer arithmetic — min/max normalization uses
  * integer DIV, the interleave is bit surgery — so the key is
  * reproducible across engines and the q94 DuckDB oracle recomputes it
  * bit-for-bit.
  */
object Layout {

  /** Interleaved-bit Morton value over already-bucketed non-negative
    * ints: output bit (i·c + j) = bit i of `cols(j)` — column 0 owns the
    * LEAST significant interleave slot. All inputs must lie in
    * [0, 2^bits); `bits · cols.size` must fit a signed long. Pure
    * bitwise-builtin composition (codegen'd, no UDF).
    */
  def zValue(cols: Seq[Column], bits: Int): Column = {
    require(cols.size >= 2, s"z-order needs >= 2 columns, got ${cols.size}")
    require(bits >= 1 && bits * cols.size <= 63,
      s"bits=$bits x ${cols.size} cols exceeds a signed long")
    cols.zipWithIndex.flatMap { case (c, j) =>
      (0 until bits).map { i =>
        shiftleft(shiftrightunsigned(c.cast("long"), i).bitwiseAND(lit(1L)),
          i * cols.size + j)
      }
    }.reduce(_ bitwiseOR _)
  }

  /** Adds `zkey`: each column min-max normalized onto the [0, 2^bits)
    * integer grid — scaled = (x − min)·(2^bits − 1) DIV max(1, max − min),
    * exact integer arithmetic end to end — then Morton-interleaved via
    * [[zValue]]. The min/max pass is one tiny aggregate whose 2·c scalars
    * come back to the driver and re-enter the plan as literals (the
    * centroid-table pattern: driver traffic is the statistics themselves,
    * never rows). Null in any key column → null zkey (sorts last, the
    * layout equivalent of a null partition).
    *
    * Normalization makes the interleave meaningful when the columns'
    * ranges differ by orders of magnitude — interleaving raw values would
    * let the wide column's high bits dominate every split point.
    */
  def zOrderKey(df: DataFrame, cols: Seq[String], bits: Int = 16)
      : DataFrame = {
    require(cols.nonEmpty && cols.distinct == cols, s"bad cols $cols")
    // a DATE has no cast to BIGINT: it enters as its epoch day (the same
    // order); every other type keeps the plain cast
    val isDate = cols.filter(c => df.schema(c).dataType == DateType).toSet
    def num(c: String): String =
      if (isDate(c)) s"unix_date(`$c`)" else s"`$c`"
    val mmCols = cols.flatMap { c =>
      val k = if (isDate(c)) expr(num(c)) else col(c)
      Seq(min(k).cast("long"), max(k).cast("long"))
    }
    val mm = df.agg(mmCols.head, mmCols.tail: _*).head()
    require(!mm.isNullAt(0), "z-order over an empty or all-null frame")
    val span = (1L << bits) - 1
    val scaled = cols.zipWithIndex.map { case (c, j) =>
      val (lo, hi) = (mm.getLong(2 * j), mm.getLong(2 * j + 1))
      // bits-dependent overflow guard: the scaling product is
      // (x - lo) * span with span = 2^bits - 1, so the range must leave
      // `bits` bits of headroom below Long.MaxValue — a constant cap
      // would silently overflow for large bits (round-10 ADVICE)
      require(hi - lo <= Long.MaxValue / span,
        s"$c range ${hi - lo} too wide for exact scaling at bits=$bits " +
          s"(max ${Long.MaxValue / span})")
      val range = math.max(1L, hi - lo)
      // expr: Spark's Scala Column API has no integer DIV; the SQL
      // operator keeps the quotient exact where floor(a/b-as-double)
      // can land one off when the true quotient is integral
      expr(s"((CAST(${num(c)} AS BIGINT) - ${lo}) * ${span}) DIV ${range}")
    }
    // one column: the Morton interleave is the identity — zkey is the
    // scaled column itself (plain range clustering, the degenerate
    // z-order every lakehouse treats as the same operation)
    if (scaled.size == 1) df.withColumn("zkey", scaled.head)
    else df.withColumn("zkey", zValue(scaled, bits))
  }

  /** Full layout operator: [[zOrderKey]] then range-repartition + local
    * sort on it — the exact pre-write shape of a clustered table rewrite
    * (each output partition = one file's worth of z-contiguous rows).
    * Range boundaries come from Spark's reservoir sampling of zkey, so
    * output PARTITIONING is balanced by construction; within-partition
    * order is total (zkey, then tiebreakers if given) for deterministic
    * files.
    */
  def zOrder(df: DataFrame, cols: Seq[String], bits: Int = 16,
      partitions: Int = 0, tiebreakers: Seq[String] = Nil): DataFrame = {
    val keyed = zOrderKey(df, cols, bits)
    val parts = if (partitions > 0) partitions
      else df.sparkSession.sparkContext.defaultParallelism
    keyed.repartitionByRange(parts, col("zkey"))
      .sortWithinPartitions(("zkey" +: tiebreakers).map(col): _*)
  }
}
