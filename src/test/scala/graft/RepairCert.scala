package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Ground-truth certification of the q244 megacluster repair on the
  * replicated synth corpora (tools/make_sf1.py): every copy family is
  * `doc_id ≡ base (mod base)` by construction, so the repair's strong
  * components (exact-Jaccard ≥ 0.2 sub-clusters of the ≥11-doc LSH
  * megaclusters) can be checked against the known family partition.
  *
  * The two claims certified (r10 verdict item 2):
  *  1. NO family is ever SPLIT: identical copies share every minhash
  *     band, so their pairwise edges carry exact Jaccard 1.0 and must
  *     survive any bridge cut — `n_split_families` must print 0.
  *  2. Cross-family MERGES that survive are exactly the ≥0.2-Jaccard
  *     organic near-dup families — the census prints how many
  *     multi-family sub-clusters remain and the largest one, the
  *     numbers a retention-policy owner reviews (a merge below 0.2
  *     surviving would be a repair bug; the strong-edge filter makes
  *     it impossible by construction, so the exposed hazard is only
  *     ever REAL similarity).
  *
  * Usage: Test/runMain graft.RepairCert <synthDir> <baseDocCount> [thr]
  * (base = 5000 for any make_sf1.py output of sf0.1; thr = an
  * edge-Jaccard threshold in ppm, or `auto` to run q252's
  * threshold-pick policy — smallest grid point whose max_sub has
  * converged — and certify at whatever it picks). Exits nonzero on a
  * split family. Dev certification tool, not a driver surface. */
object RepairCert {

  /** q252's pick policy over the 0.2/0.35/0.5 grid: smallest
    * threshold whose max sub-cluster size equals the next grid
    * point's (raising further buys nothing); largest grid point when
    * still shrinking at the end. */
  def pickThreshold(s: SparkSession, dir: String): Long = {
    val grid = Seq(200000L, 350000L, 500000L)
    val ms = grid.map { t =>
      t -> SharedLsh.strongComponentsAt(s, dir, t)
        .groupBy(col("component")).agg(count(lit(1)).as("ssz"))
        .agg(coalesce(max(col("ssz")), lit(0L)))
        .head().getLong(0)
    }
    ms.sliding(2).collectFirst {
      case Seq((t, m1), (_, m2)) if m1 == m2 => t
    }.getOrElse(grid.last)
  }

  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val base = args(1).toLong
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", "/dev/shm/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // megacluster members (LSH component size ≥ 11 — q243/q244's cut)
    val comps = SharedLsh.components(spark, dir)
    val members = comps
      .join(comps.groupBy(col("component"))
        .agg(count(lit(1)).as("csize")).filter(col("csize") >= 11)
        .hint("shuffle_hash"), "component")
      .select(col("doc_id"), (col("doc_id") % base).as("family"))
      .localCheckpoint()

    // the repair map at the requested (or auto-picked) threshold;
    // docs whose every edge fell below it are absent from the CC
    // output — they are singleton sub-clusters, keyed by their own id
    // (the q238 fallback discipline)
    val thr: Long =
      if (args.length > 2)
        (if (args(2) == "auto") pickThreshold(spark, dir)
         else args(2).toLong)
      else 200000L
    val strong = SharedLsh.strongComponentsAt(spark, dir, thr)
      .withColumnRenamed("component", "sub")
    val placed = members.join(strong, Seq("doc_id"), "left")
      .withColumn("sub", coalesce(col("sub"), col("doc_id")))
      .localCheckpoint()

    // claim 1: families never split
    val fam = placed.groupBy(col("family"))
      .agg(count(lit(1)).as("n_members"),
        count_distinct(col("sub")).as("n_subs"))
      .filter(col("n_members") >= 2)
      .localCheckpoint()
    val nFam = fam.count()
    val nSplit = fam.filter(col("n_subs") > 1).count()

    // claim 2: surviving merges = real ≥0.2 similarity, censused
    val bySub = placed.groupBy(col("sub"))
      .agg(count(lit(1)).as("n_docs"),
        count_distinct(col("family")).as("n_families"))
    val nSubs = bySub.count()
    val nMulti = bySub.filter(col("n_families") > 1).count()
    // coalesce: max over an empty group is null when the corpus has
    // no ≥11-member megaclusters — an empty census is a valid zero,
    // not a crash (the q248 max_sub discipline)
    val maxFam = bySub.agg(coalesce(max(col("n_families")), lit(0L)))
      .head().getLong(0)
    val nMegaDocs = placed.count()

    println(s"""{"dir":"$dir","base":$base,"thr_ppm":$thr,""" +
      s""""mega_docs":$nMegaDocs,""" +
      s""""families_ge2":$nFam,"split_families":$nSplit,""" +
      s""""sub_clusters":$nSubs,"multi_family_subs":$nMulti,""" +
      s""""max_families_per_sub":$maxFam}""")
    spark.stop()
    if (nSplit != 0) {
      System.err.println(s"REPAIR CERT FAILED: $nSplit families split")
      sys.exit(1)
    }
  }
}
