package graft

import org.apache.spark.sql.functions._
import graft.operators.Dsir

class DsirSpec extends SparkSpec {
  import spark.implicits._

  private def md5b(gram: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest(gram.getBytes("UTF-8")).map("%02x".format(_))
      .mkString.substring(0, 2)
  }

  /** The join-and-aggregate derivation of the DSIR score: every gram
    * joins its bucket's weight (10⁶ when absent), then Σw div n per doc
    * — an independent check on the per-row scorer. */
  private def joinScored(docs: org.apache.spark.sql.DataFrame,
                         weights: org.apache.spark.sql.DataFrame) =
    Dsir.bucketedGrams(docs)
      .join(weights, Seq("b"), "left")
      .select(col("doc_id"),
        coalesce(col("w_fp"), lit(1000000L)).as("w_fp"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"), sum(col("w_fp")).as("s"))
      .select(col("doc_id"), col("n_grams"),
        expr("s div n_grams").as("avg_weight_fp"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  test("bucketedGrams: adjacent pairs, md5-prefix buckets, short docs drop") {
    val docs = Seq((1L, "a b c"), (2L, "x"), (3L, "")).toDF("doc_id", "text")
    val got = Dsir.bucketedGrams(docs)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set(1L -> md5b("a b"), 1L -> md5b("b c")))
  }

  test("importanceWeights: smoothed probability ratio per bucket") {
    // source grams: "a b" x2 (docs 1,2), "b c" x1 (S=3); target: "a b" (T=1)
    val source = Seq((1L, "a b"), (2L, "a b c")).toDF("doc_id", "text")
    val target = Seq((9L, "a b")).toDF("doc_id", "text")
    val got = Dsir.importanceWeights(source, target)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    def w(tc: Long, sc: Long): Long = // S=3, T=1, B=256
      math.floor(1e6 * ((tc + 1) * (3 + 256)).toDouble
        / ((sc + 1) * (1 + 256)).toDouble).toLong
    assert(got == Map(md5b("a b") -> w(1, 2), md5b("b c") -> w(0, 1)))
  }

  test("scoreWithWeights: integer mean of per-gram weights; unseen bucket = 1e6") {
    val weights = Map(md5b("a b") -> 3000000L, md5b("b c") -> 500000L)
    val docs = Seq(
      (1L, "a b c"),   // (3000000 + 500000) div 2 = 1750000
      (2L, "z z"))     // bucket unseen -> 1000000
      .toDF("doc_id", "text")
    val got = Dsir.scoreWithWeights(docs, weights)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(got == Map(1L -> ((2L, 1750000L)), 2L -> ((1L, 1000000L))))
  }

  test("stateless scoreWithWeights is bit-identical to the join scorer") {
    val docs = Tables.documents(spark, sf())
    val target = docs.filter(col("text").contains("spark"))
    val w = Dsir.importanceWeights(docs, target)
    val a = joinScored(docs, w)
    val b = Dsir.scoreWithWeights(docs, Dsir.weightsMap(w))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(a == b && a.nonEmpty)
  }

  test("streaming scoring with frozen weights agrees with batch") {
    import java.nio.charset.StandardCharsets
    import java.nio.file.Files
    import org.apache.spark.sql.streaming.Trigger
    val d = Files.createTempDirectory("graft-sdsir")
    val in = d.resolve("in"); Files.createDirectories(in)
    val out = d.resolve("out").toString
    val rows = Seq((1L, "a b a b c"), (2L, "a b x"), (3L, "z z a"),
      (4L, "solo"), (5L, "b c a b"))
    rows.grouped(3).zipWithIndex.foreach { case (g, i) =>
      Files.write(in.resolve(s"docs$i.csv"),
        g.map { case (id, t) => s"$id;$t" }.mkString("\n")
          .getBytes(StandardCharsets.UTF_8))
    }
    val schema = "doc_id LONG, text STRING"
    val batch = spark.read.schema(schema)
      .option("delimiter", ";").csv(in.toString)
    val w = Dsir.weightsMap(Dsir.importanceWeights(
      batch, batch.filter(col("text").contains("a"))))
    val stream = spark.readStream.schema(schema)
      .option("delimiter", ";").option("maxFilesPerTrigger", "1")
      .csv(in.toString)
    val q = Dsir.scoreWithWeights(stream, w)
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", d.resolve("ckpt").toString)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.read.parquet(out).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val want = joinScored(batch, Dsir.importanceWeights(
        batch, batch.filter(col("text").contains("a"))))
    assert(got == want && got.nonEmpty)
  }

  test("target-resembling docs rank above the rest end-to-end") {
    val corpus = (1L to 20L).map { i =>
      if (i % 5 == 0) (i, "alpha beta alpha beta gamma")
      else (i, "noise filler junk other")
    }.toDF("doc_id", "text")
    val target = Seq((99L, "alpha beta alpha")).toDF("doc_id", "text")
    val w = Dsir.importanceWeights(corpus, target)
    val top = Dsir.scoreWithWeights(corpus, Dsir.weightsMap(w))
      .orderBy(col("avg_weight_fp").desc, col("doc_id").asc)
      .limit(4).collect().map(_.getLong(0)).toSet
    assert(top == Set(5L, 10L, 15L, 20L))
  }
}
