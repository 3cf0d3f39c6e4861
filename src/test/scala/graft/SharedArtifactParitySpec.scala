package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, KeyPairs, TrainPrep}

/** Round-12-opt parity pins: every query rewired onto a shared
  * session artifact must compute EXACTLY what its inline derivation
  * computed — these tests re-derive the inline form and assert row
  * -set equality against the artifact path (the oracle gate proves
  * the same thing end-to-end; this pins it at the operator seam, so
  * a drifted artifact fails fast with a named assertion instead of a
  * hash mismatch three stages later). */
class SharedArtifactParitySpec extends SparkSpec {

  private def rows(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  test("bm25RankFromPair over postingPair == bm25Rank over documents") {
    val docs = Tables.documents(spark, sf())
    val (post, lens) = SharedGrams.postingPair(spark, sf())
    val terms = Seq("query", "window", "scan")
    assert(rows(TrainPrep.bm25RankFromPair(post, lens, terms, 20)) ===
      rows(TrainPrep.bm25Rank(docs, terms, 20)))
  }

  test("SharedGrams.word8 == inline word-8-gram occurrence rows") {
    val inline = Tables.documents(spark, sf())
      .select(col("doc_id"), col("source"),
        explode(operators.TextAnalysis.wordNgrams(col("text"), 8)).as("g"))
      .select(col("doc_id"), col("source"), unhex(md5(col("g"))).as("gh"))
    // compare as per-key counts (occurrence rows are a multiset);
    // hex() the BINARY key — Array[Byte] compares by reference in a
    // collected Row
    def census(df: DataFrame) = rows(df
      .groupBy(col("doc_id"), col("source"), hex(col("gh")).as("ghx"))
      .agg(count(lit(1)).as("n")))
    assert(census(SharedGrams.word8(spark, sf())) === census(inline))
  }

  test("SharedDecontam.winnowCandPairs == inline winnow screen") {
    val DfCap = graft.operators.Winnow.DfCap
    val corpusFp = SharedWinnow.selected(spark, sf())
      .select(col("doc_id").as("train_id"), col("fp")).distinct()
    // the window rows here, the per-row fingerprint sets in the artifact
    val benchFp = graft.operators.Winnow
      .windows(SharedDecontam.benchDocs(spark, sf()))
      .select(col("doc_id").as("bench_id"), col("fp")).distinct()
    val capped = corpusFp.join(
      corpusFp.groupBy(col("fp")).agg(count(lit(1)).as("dfc"))
        .filter(col("dfc") <= DfCap).select(col("fp")), "fp")
    val inline = capped.join(benchFp, "fp")
      .groupBy(col("train_id"), col("bench_id"))
      .agg(count(lit(1)).as("nsh"))
      .filter(col("nsh") >= 2)
      .select(col("train_id"), col("bench_id"))
    assert(rows(SharedDecontam.winnowCandPairs(spark, sf())) ===
      rows(inline))
    assert(rows(inline).nonEmpty,
      "fixture must exercise the screen (bench set collides)")
  }

  test("SharedDecontam.confirmedPairs restricted == inline q234 confirm") {
    val cand = SharedDecontam.winnowCandPairs(spark, sf())
    val corpusFp = SharedDecontam.corpusFp(spark, sf())
    val benchFp = SharedDecontam.benchFp(spark, sf())
    val inter = corpusFp.join(cand, "train_id")
      .join(benchFp, Seq("bench_id", "fp"))
      .groupBy(col("train_id"), col("bench_id"))
      .agg(count(lit(1)).as("i"))
    val szb = benchFp.groupBy(col("bench_id")).agg(count(lit(1)).as("szb"))
    val inline = inter.join(szb, "bench_id")
      .filter(expr("i * 1000000 div szb") >= 500000L)
      .select(col("train_id"), col("bench_id"))
    val restricted = SharedDecontam.confirmedPairs(spark, sf())
      .join(cand, Seq("train_id", "bench_id"), "left_semi")
    assert(rows(restricted) === rows(inline))
  }

  test("q187's nested-band predicates == fresh per-band self-joins") {
    val sig = SharedLsh.signatures(spark, sf())
    def bandKeysFor(bands: Int) = {
      val rowsPer = 8 / bands
      val keys = (0 until bands).map { b =>
        md5(concat(lit(b.toString) +:
          (0 until rowsPer).map(r => col(s"h${b * rowsPer + r}")): _*))
      }
      sig.select(col("doc_id"), explode(array(keys: _*)).as("bk"))
    }
    def candFor(bands: Int) =
      rows(KeyPairs.same(bandKeysFor(bands)).select("doc_a", "doc_b"))
    val sa = sig.select(col("doc_id").as("doc_a") +:
      (0 until 8).map(j => col(s"h$j").as(s"a$j")): _*)
    val sb = sig.select(col("doc_id").as("doc_b") +:
      (0 until 8).map(j => col(s"h$j").as(s"b$j")): _*)
    def allEq(from: Int, until: Int) =
      (from until until).map(j => col(s"a$j") === col(s"b$j"))
        .reduce(_ && _)
    val annotated = KeyPairs.same(bandKeysFor(4))
      .join(sa, "doc_a").join(sb, "doc_b")
      .select(col("doc_a"), col("doc_b"),
        allEq(0, 4).as("b2lo"), allEq(4, 8).as("b2hi"))
    assert(rows(annotated.filter(col("b2lo") && col("b2hi"))
      .select(col("doc_a"), col("doc_b"))) === candFor(1))
    assert(rows(annotated.filter(col("b2lo") || col("b2hi"))
      .select(col("doc_a"), col("doc_b"))) === candFor(2))
  }

  test("q191 one-pass disjoint-partition sketches == two-pass sketches") {
    val k = 64
    val docs = Tables.documents(spark, sf())
    import graft.operators.KmvSketch
    def sketchOf(part: DataFrame) = part
      .select(col("source"),
        explode(Dedup.charShingles(col("text"), 5)).as("sh"))
      .select(col("source"), KmvSketch.hash32(col("sh")).as("h"))
      .groupBy(col("source"))
      .agg(KmvSketch.lowestK(col("h"), k).as("kmv"))
    val twoPass = rows(
      sketchOf(docs.filter(col("doc_id") % 10 =!= 0))
        .withColumn("isd", lit(false))
        .unionByName(sketchOf(docs.filter(col("doc_id") % 10 === 0))
          .withColumn("isd", lit(true))))
    val onePass = rows(docs
      .select(col("source"), (col("doc_id") % 10 === 0).as("isd"),
        explode(Dedup.charShingles(col("text"), 5)).as("sh"))
      .select(col("source"), col("isd"),
        KmvSketch.hash32(col("sh")).as("h"))
      .groupBy(col("source"), col("isd"))
      .agg(KmvSketch.lowestK(col("h"), k).as("kmv"))
      .select(col("source"), col("kmv"), col("isd")))
    // two-pass emits a row per (source, half) only when the half is
    // nonempty — exactly the one-pass group set
    assert(onePass === twoPass)
  }
}
