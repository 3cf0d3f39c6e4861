package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Z-order (Morton-curve) data layout — the multi-column file-skipping
  * lever at 100 TB. Sorting a corpus by one column gives perfect
  * min/max pruning on that column and none on any other; interleaving
  * the bits of several columns into one sort key gives useful pruning
  * on ALL of them (the Delta/Iceberg `OPTIMIZE ZORDER BY` idea; Morton
  * 1966). Reference analog: none — MailLogSentinel appends CSV in
  * arrival order (maillogsentinel.py) and every ad-hoc grep scans the
  * whole file; this is the beyond-reference layout operator for
  * corpus writes.
  *
  * The key is built from plain shift/mask column expressions, so it
  * stays inside whole-stage codegen and constant-folds per row — no
  * UDF. Writing is `repartitionByRange(zkey).sortWithinPartitions`:
  * one range shuffle, each output file covers a compact Z-curve
  * segment, and file-level min/max stats on the ORIGINAL columns
  * become tight (ZOrderSpec measures per-file spread via
  * `input_file_name()`: ≥2× tighter per column and ≥5× tighter as a
  * min/max area — the quantity that drives multi-predicate file
  * skipping; the per-column ideal for 16 files × 2×8-bit keys is ~4×,
  * shaved because sampled range boundaries straddle Z-quadrants).
  *
  * Bucketization: real columns are first rank-bucketed to `bits`-bit
  * ints. [[bucketBoundaries]]/[[bucketize]] use sampled quantile
  * boundaries (`approxQuantile`, the two-pass sample Delta uses) so
  * skew cannot starve bit positions; already-integer columns in a
  * known range can interleave directly after clamping.
  */
object ZOrder {

  /** Interleave the low `bits` bits of each column (MSB-first across
    * columns at each bit position, col 0 highest). Columns must already
    * be non-negative ints < 2^bits; totalBits = cols·bits must be ≤ 62.
    */
  def zkey(cols: Seq[Column], bits: Int): Column = {
    require(cols.nonEmpty && bits > 0 && cols.length * bits <= 62,
      "need 1+ cols and cols*bits <= 62")
    val n = cols.length
    // bit i of column c lands at output position i*n + (n-1-c)
    val parts = for {
      i <- 0 until bits
      c <- 0 until n
    } yield shiftleft(
      shiftright(cols(c).cast("long"), i).bitwiseAND(lit(1L)),
      i * n + (n - 1 - c))
    parts.reduce(_.bitwiseOR(_))
  }

  /** Sampled per-column bucket boundaries: 2^bits − 1 interior quantile
    * cut points (one tiny driver-side array per column — the broadcast
    * side of the layout job, never a shuffle of the data). */
  def bucketBoundaries(df: DataFrame, column: String, bits: Int,
                       relErr: Double = 0.001): Array[Double] = {
    val k = (1 << bits) - 1
    val probs = (1 to k).map(_.toDouble / (1 << bits)).toArray
    df.stat.approxQuantile(column, probs, relErr)
  }

  /** Map a numeric column to its bucket id (0 .. 2^bits−1) given the
    * boundaries — a fold of `when` comparisons, codegen-friendly for
    * the handful of bits a Z-key uses. Folded in REVERSE so the
    * smallest boundary ends up as the outermost `when`: nested `when`s
    * short-circuit outermost-first, and every value below b0 also
    * satisfies `c <= b6`. */
  def bucketize(c: Column, boundaries: Array[Double]): Column =
    boundaries.zipWithIndex.reverse.foldLeft(lit(boundaries.length): Column) {
      case (acc, (b, i)) => when(c <= b, lit(i)).otherwise(acc)
    }.cast("long")

  /** Z-order a frame by the given integer-valued columns and write it:
    * one range shuffle into `numFiles` Z-contiguous parquet files. */
  def writeZOrdered(df: DataFrame, intCols: Seq[String], bits: Int,
                    numFiles: Int, path: String): Unit = {
    val keyed = df.withColumn("_zkey",
      zkey(intCols.map(col), bits))
    keyed
      .repartitionByRange(numFiles, col("_zkey"))
      .sortWithinPartitions(col("_zkey"))
      .drop("_zkey")
      .write.mode("overwrite").parquet(path)
  }

  /** HILBERT-curve key for a 2-D grid — [[zkey]]'s sibling with the
    * strictly better locality guarantee: consecutive Hilbert keys are
    * ALWAYS grid-adjacent (Manhattan distance 1, spec-proven
    * exhaustively), while the Z-curve jumps across the grid at every
    * quadrant seam. For range-partitioned file layout that means a
    * file covering a Hilbert key range covers one CONNECTED region —
    * tighter per-file min/max boxes on both columns, better
    * multi-predicate skipping (the Hilbert option in modern table
    * formats; Hilbert 1891, iterative form per Warren's Hacker's
    * Delight fig. 16-9 family).
    *
    * Implemented as `bits` chained column rewrites appended via
    * withColumn (NOT one nested expression — the (x,y) rotation
    * references both coords per level, so a single expression tree
    * would grow 4^bits nodes; named columns keep each level linear
    * and codegen-friendly). All-integer CASE/bit arithmetic — exact
    * on any engine, so oracle SQL replays it as the same per-level
    * CTE chain. Inputs must be non-negative ints < 2^bits;
    * 2·bits ≤ 62. Adds `outCol`, drops nothing. */
  def withHilbert(df: DataFrame, xCol: String, yCol: String, bits: Int,
                  outCol: String): DataFrame = {
    require(bits > 0 && 2 * bits <= 62, "need 0 < bits <= 31")
    val (hx, hy, hd) = ("_h_x", "_h_y", outCol)
    var cur = df
      .withColumn(hx, col(xCol).cast("long"))
      .withColumn(hy, col(yCol).cast("long"))
      .withColumn(hd, lit(0L))
    for (i <- (bits - 1) to 0 by -1) {
      val s = 1L << i
      val rx = when(col(hx).bitwiseAND(lit(s)) > 0, 1L).otherwise(0L)
      val ry = when(col(hy).bitwiseAND(lit(s)) > 0, 1L).otherwise(0L)
      cur = cur
        .withColumn("_h_rx", rx)
        .withColumn("_h_ry", ry)
        .withColumn(hd, col(hd) + lit(s) * lit(s) *
          (lit(3L) * col("_h_rx")).bitwiseXOR(col("_h_ry")))
        // rotate the frame: reflect (if rx==1) then swap — only when
        // ry == 0; the last level's rotation is a no-op for d
        .withColumn("_h_nx",
          when(col("_h_ry") === 0,
            when(col("_h_rx") === 1, lit(s - 1) - col(hy))
              .otherwise(col(hy))).otherwise(col(hx)))
        .withColumn(hy,
          when(col("_h_ry") === 0,
            when(col("_h_rx") === 1, lit(s - 1) - col(hx))
              .otherwise(col(hx))).otherwise(col(hy)))
        .withColumn(hx, col("_h_nx"))
    }
    cur.drop(hx, hy, "_h_rx", "_h_ry", "_h_nx")
  }

  /** The same per-level rewrite as [[withHilbert]], as a DuckDB CTE
    * chain: `WITH <prev> ... , h{L} AS (SELECT *: replaced cols ...)`.
    * Generated from the identical level constants so the two engines
    * cannot drift; all-integer, hash-exact. `srcCte` must expose
    * columns `hx`, `hy` plus whatever else should pass through; the
    * final CTE `hilbert` carries `hd` (+ passthrough). */
  def hilbertSql(srcCte: String, bits: Int,
                 passthrough: Seq[String]): String = {
    require(bits > 0 && 2 * bits <= 62, "need 0 < bits <= 31")
    val pt = if (passthrough.isEmpty) "" else passthrough.mkString("", ", ", ",")
    val levels = ((bits - 1) to 0 by -1).zipWithIndex.map {
      case (i, lvl) =>
        val s = 1L << i
        s"""h${lvl + 1} AS (SELECT $pt
          CASE WHEN ry = 0 THEN CASE WHEN rx = 1 THEN ${s - 1} - hy ELSE hy END ELSE hx END AS hx,
          CASE WHEN ry = 0 THEN CASE WHEN rx = 1 THEN ${s - 1} - hx ELSE hx END ELSE hy END AS hy,
          hd + $s * $s * xor(3 * rx, ry) AS hd
        FROM (SELECT $pt hx, hy, hd,
            CASE WHEN (hx & $s) > 0 THEN 1 ELSE 0 END AS rx,
            CASE WHEN (hy & $s) > 0 THEN 1 ELSE 0 END AS ry
          FROM h$lvl))"""
    }
    val first = s"h0 AS (SELECT $pt hx, hy, CAST(0 AS BIGINT) AS hd FROM $srcCte)"
    s"""$first,
      ${levels.mkString(",\n      ")},
      hilbert AS (SELECT $pt hd FROM h$bits)"""
  }
}
