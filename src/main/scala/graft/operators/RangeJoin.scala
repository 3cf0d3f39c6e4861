package graft.operators

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.BasicFileAttributes
import java.util.concurrent.ExecutionException

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.execution.datasources.FileIndex
import org.apache.spark.sql.functions._

import graft.SessionArtifacts
import graft.plans.RangeLookupExpr

/** Range lookup of a large probe table against a small dimension of
  * [lo, hi] intervals — the reference's sorted-table binary search for
  * GeoIP/ASN enrichment (its `bin/ipinfo.py:207,217-238,309-339`).
  *
  *  - [[lookup]], the one production kernel: the dimension is collected
  *    once into a driver-built [[Table]] — `lo`/`hi` arrays sorted by
  *    `lo` plus the rows packed as bytes, no `Row` objects — and broadcast.
  *    Each probe row is one binary search: the greatest `lo ≤ key` hits
  *    iff `key ≤ hi`. No join, no exchange and no dimension scan in the
  *    probe's plan. The table is a session artifact keyed by the
  *    dimension's plan and the identity of its input files, so a run
  *    over an unchanged file reuses it and a refreshed file rebuilds it.
  *
  *  - [[broadcastTheta]]: `probe LEFT JOIN broadcast(dim) ON key BETWEEN
  *    lo AND hi` (BroadcastNestedLoopJoin, O(|dim|) per probe row) — the
  *    specs' reference. On overlapping ranges it returns every range that
  *    holds the key, where [[lookup]] returns the one with the greatest
  *    `lo`, and only if that one holds the key (the reference's bisect).
  */
object RangeJoin {

  /** Plain broadcast non-equi left join (BroadcastNestedLoopJoin). */
  def broadcastTheta(
      probe: DataFrame, dim: DataFrame,
      key: Column, lo: Column, hi: Column): DataFrame =
    probe.join(broadcast(dim), key >= lo && key <= hi, "left")

  /** A dimension's ranges sorted by `lo`. Range i's row (lo, hi,
    * payload...) is `numFields` wide and packed as UnsafeRow bytes in
    * `rows`, from `offsets(i)` until `offsets(i + 1)`. */
  final class Table(val lo: Array[Long], val hi: Array[Long], val numFields: Int,
                    val rows: Array[Byte], val offsets: Array[Int]) extends Serializable {

    /** Row of the greatest `lo ≤ key` if `key ≤` its `hi`, else -1. */
    def find(key: Long): Int = {
      var a = 0
      var b = lo.length // lo(< a) <= key < lo(>= b)
      while (a < b) {
        val m = (a + b) >>> 1
        if (lo(m) <= key) a = m + 1 else b = m
      }
      if (a > 0 && key <= hi(a - 1)) a - 1 else -1
    }
  }

  /** `probe` plus the payload columns of each dim (the columns after its
    * first two, the integral `lo` and `hi`), null where no range holds the
    * key or the key is null — a left join's misses. Tables not yet built
    * are built concurrently. */
  def lookup(probe: DataFrame, key: Column, dims: DataFrame*): DataFrame = {
    val futures = dims.map(d =>
      GraftSqlBridge.async(probe.sparkSession, DaemonPool.executor)(table(d)))
    val tables = futures.map { f =>
      try f.get() catch { case e: ExecutionException => throw e.getCause }
    }
    val k = GraftSqlBridge.expression(key.cast("long"))
    val payload = dims.zip(tables).flatMap { case (d, t) =>
      d.schema.fields.drop(2).zipWithIndex.map { case (f, j) =>
        GraftSqlBridge.column(RangeLookupExpr(k, t, j + 2, f.dataType)).as(f.name)
      }
    }
    probe.select(col("*") +: payload: _*)
  }

  /** The session's broadcast table for `dim`, built on the first call for
    * its plan and current input files. A new file identity (path, size,
    * mtime, file key) refreshes the plan's file listing before the build,
    * so `dim` itself reads the new file from then on, and releases the
    * table of the old identity. */
  def table(dim: DataFrame): Broadcast[Table] = {
    val s = dim.sparkSession
    val indexes = GraftSqlBridge.fileIndexes(dim)
    SessionArtifacts.memoVersion(s, "RangeJoin.table",
        GraftSqlBridge.logicalPlan(dim).canonicalized, fileIdentity(s, indexes)) {
      indexes.foreach(_.refresh())
      s.sparkContext.broadcast(build(dim))
    }
  }

  /** (path, size, mtime, file key) of each data file under the indexes'
    * roots, listed now rather than read from their cached listings. */
  private def fileIdentity(s: SparkSession, indexes: Seq[FileIndex]): Seq[Any] =
    indexes.flatMap(_.rootPaths).flatMap { root =>
      val it = root.getFileSystem(s.sparkContext.hadoopConfiguration)
        .listFiles(root, true)
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
        .filterNot(st => st.getPath.getName.startsWith(".") ||
          st.getPath.getName.startsWith("_"))
        .map { st =>
          val uri = st.getPath.toUri
          val fileKey = if (uri.getScheme != "file") null
            else Files.readAttributes(Paths.get(uri), classOf[BasicFileAttributes]).fileKey()
          (uri.toString, st.getLen, st.getModificationTime, fileKey)
        }.toSeq.sortBy(_._1)
    }

  private def build(dim: DataFrame): Table = {
    val Array(lo, hi, rest @ _*) = dim.columns
    val ranges = dim.filter(col(lo).isNotNull && col(hi).isNotNull)
      .select(col(lo).cast("long") +: col(hi).cast("long") +: rest.map(col): _*)
    val schema = ranges.schema
    val parts = GraftSqlBridge.internalRows(ranges).mapPartitions { it =>
      val unsafe = UnsafeProjection.create(schema)
      val los = Array.newBuilder[Long]
      val his = Array.newBuilder[Long]
      val sizes = Array.newBuilder[Int]
      val bytes = new java.io.ByteArrayOutputStream
      it.foreach { r =>
        val u = unsafe(r)
        los += u.getLong(0)
        his += u.getLong(1)
        sizes += u.getSizeInBytes
        bytes.write(u.getBytes)
      }
      Iterator.single((los.result(), his.result(), sizes.result(), bytes.toByteArray))
    }.collect()
    val los = parts.flatMap(_._1)
    val sizes = parts.flatMap(_._3)
    val packed = parts.flatMap(_._4)
    val starts = sizes.scanLeft(0)(_ + _)
    val order = los.indices.sortBy(i => los(i)).toArray // stable: ties keep file order
    val offsets = order.map(i => sizes(i)).scanLeft(0)(_ + _)
    val rows = new Array[Byte](offsets.last)
    order.indices.foreach(k =>
      System.arraycopy(packed, starts(order(k)), rows, offsets(k), sizes(order(k))))
    val his = parts.flatMap(_._2)
    new Table(order.map(i => los(i)), order.map(i => his(i)), schema.length, rows, offsets)
  }
}
