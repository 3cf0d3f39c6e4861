package graft.sources

import java.nio.file.{Files, Path, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** GeoIP/ASN dimension refresh + load — driver-side utility mirroring
  * the reference's database manager (`/root/reference/bin/ipinfo.py`):
  * fetch-to-temp then atomic replace (:44-127, replace at :96), CSV
  * parse with malformed-row skip (:129-214).
  *
  * The fetch itself is an injectable `Path => Unit` (this container is
  * zero-egress; production passes an HTTP downloader for the public
  * sapics/ip-location-db URLs the reference uses, ipinfo.py:18-19).
  * Loading returns lazy DataFrames in the lo/hi schema the
  * RangeJoin/Enrich operators expect. `RangeJoin.table` collects,
  * sorts (ipinfo.py:207) and broadcasts each once per file identity;
  * on a new identity it refreshes the frame's file listing, so a frame
  * held across a [[refresh]] reads the new file, not the old length.
  */
object DimRefresh {

  /** temp-write + atomic replace. `fetch` writes the new DB to the temp
    * path; any exception leaves the current file untouched. */
  def refresh(target: Path, fetch: Path => Unit): Unit = {
    Files.createDirectories(target.getParent)
    val tmp = target.getParent.resolve(s".${target.getFileName}.tmp")
    try {
      fetch(tmp)
      Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
    } finally Files.deleteIfExists(tmp)
  }

  /** Country DB: headerless CSV `start_ip_int,end_ip_int,country_code`
    * (ipinfo.py:149-172). Malformed rows (non-numeric bounds) dropped. */
  def loadCountry(spark: SparkSession, path: String): DataFrame =
    // try_cast: Spark 4 is ANSI by default — a plain cast would throw on
    // the malformed rows the reference explicitly skips (ipinfo.py:193-198)
    spark.read.csv(path)
      .select(col("_c0").try_cast("long").as("lo"),
        col("_c1").try_cast("long").as("hi"),
        col("_c2").as("country_code"))
      .filter(col("lo").isNotNull && col("hi").isNotNull &&
        col("country_code").isNotNull)

  /** ASN DB: `start_ip_int,end_ip_int,asn,aso` (ipinfo.py:173-190). */
  def loadAsn(spark: SparkSession, path: String): DataFrame =
    spark.read.csv(path)
      .select(col("_c0").try_cast("long").as("lo"),
        col("_c1").try_cast("long").as("hi"),
        col("_c2").try_cast("long").as("asn"),
        col("_c3").as("aso"))
      .filter(col("lo").isNotNull && col("hi").isNotNull)
}
