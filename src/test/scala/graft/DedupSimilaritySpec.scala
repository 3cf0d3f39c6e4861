package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Similarity}

class DedupSimilaritySpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog"),
    (1L, "the quick brown fox jumps over the lazy dog"), // exact dup of 0
    (2L, "the quick brown fox jumps over the lazy cat"), // near dup
    (3L, "completely different text with no overlap at all zzz"))
    .toDF("doc_id", "text")

  test("hot-bucket triangle split emits exactly the naive pair set") {
    // band table with one HOT bucket (64 docs — every unordered pair),
    // one warm bucket (5 docs), singletons, and a doc in two buckets
    // (pair deduped across bands). hotBucket=8 forces the split path
    // for the big bucket while the warm one stays on the plain join.
    val banded = spark.range(64)
        .select(col("id").as("doc_id"), lit("HOT").as("bk"))
      .union(spark.range(100, 105)
        .select(col("id").as("doc_id"), lit("WARM").as("bk")))
      .union(spark.range(200, 203)
        .select(col("id").as("doc_id"),
          concat(lit("S"), col("id")).as("bk")))
      .union(spark.range(63, 64) // doc 63 also in WARM: cross-band dup
        .select(col("id").as("doc_id"), lit("WARM").as("bk")))
    def pairSet(hotBucket: Int, slices: Int) =
      Dedup.lshCandidatePairsFrom(banded, "doc_id", hotBucket, slices)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val naive = pairSet(hotBucket = 1 << 20, slices = 4) // all-cold
    assert(naive.size == 64 * 63 / 2 + 6 * 5 / 2 &&
      naive.contains((62L, 63L)) && naive.contains((63L, 104L)))
    for ((hb, s) <- Seq((8, 4), (8, 16), (2, 3), (2, 64)))
      assert(pairSet(hb, s) == naive, s"hotBucket=$hb slices=$s")
  }

  test("identical docs get identical minhash signatures; LSH pairs them") {
    val sig = Dedup.minhashSignatures(docs, "doc_id", "text", n = 5, k = 8)
      .collect().map(r => r.getLong(0) -> (1 to 8).map(r.getString).toSeq).toMap
    assert(sig(0L) == sig(1L))
    assert(sig(0L) != sig(3L))
    val pairs = Dedup.lshCandidatePairsFrom(
        Dedup.lshBandKeysNarrow(docs, "doc_id", "text", 5, 8, 2), "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("incremental LSH: index probe + batch self-join == from-scratch delta") {
    val corpusDocs = Seq(
      (0L, "the quick brown fox jumps over the lazy dog"),
      (1L, "the quick brown fox jumps over the lazy dog"),
      (3L, "completely different text with no overlap at all zzz"))
      .toDF("doc_id", "text")
    val batchDocs = Seq(
      (2L, "the quick brown fox jumps over the lazy cat"), // near dup of 0/1
      (4L, "the quick brown fox jumps over the lazy dog"), // exact dup of 0/1
      (5L, "another disjoint document qqq www eee rrr"))
      .toDF("doc_id", "text")
    def pairsOf(df: org.apache.spark.sql.DataFrame) =
      Dedup.lshCandidatePairsFrom(
          Dedup.lshBandKeysNarrow(df, "doc_id", "text", 5, 8, 2), "doc_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val index = Dedup.lshBandKeysPlan(corpusDocs, "doc_id", "text", 5, 8, 2)
      .localCheckpoint()
    val batchBanded =
      Dedup.lshBandKeysNarrow(batchDocs, "doc_id", "text", 5, 8, 2)
    val delta = Dedup.incrementalCandidatePairs(index, batchBanded, "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val batchIds = Set(2L, 4L, 5L)
    // only pairs touching the batch, and the contract:
    // delta ∪ pairs(C) == pairs(C ∪ B)
    assert(delta.forall(p => batchIds.contains(p._1) || batchIds.contains(p._2)))
    assert(delta ++ pairsOf(corpusDocs) == pairsOf(corpusDocs.union(batchDocs)))
    assert(delta.contains((0L, 4L)) && delta.contains((1L, 4L)))
    assert(!delta.exists(p => p._1 == 5L || p._2 == 5L))
  }

  test("jaccard: exact dup = 1.0; near dup high; disjoint absent") {
    val j = Dedup.jaccardPairs(docs, "doc_id", "text", 5, 0.05)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(4)).toMap
    assert(j((0L, 1L)) == 1.0)
    assert(j((0L, 2L)) > 0.5)
    assert(!j.keySet.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("containment flags an excerpt that Jaccard misses") {
    val long = ("the quick brown fox jumps over the lazy dog while " * 6) +
      "unique closing sentence of the long original document here"
    val cdocs = Seq(
      (10L, long),
      (11L, long.substring(50, 100)), // verbatim excerpt of doc 10
      (12L, "completely different content with no shared five grams ZQXJ"))
      .toDF("doc_id", "text")
    val c = Dedup.containmentPairs(cdocs, "doc_id", "text", 5, 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getDouble(3), r.getDouble(4), r.getDouble(5))).toMap
    val (contAb, contBa, overlap) = c((10L, 11L))
    assert(overlap == 1.0 && contBa == 1.0) // excerpt fully contained
    assert(contAb < 0.5)                    // but tiny vs the long doc
    assert(!c.keySet.exists(p => p._1 == 12L || p._2 == 12L))
    // the same pair is invisible to union-normalized Jaccard at the
    // usual near-dup threshold — the reason containment exists
    val j = Dedup.jaccardPairs(cdocs, "doc_id", "text", 5, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!j.contains((10L, 11L)))
  }

  test("simhash: identical docs equal; near-dups within small hamming distance") {
    val sh = Dedup.simhash16(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(0L) == sh(1L))
    def ham(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    assert(ham(sh(0L), sh(2L)) <= 6)
  }

  test("connected components: chains merge, singletons keep own label") {
    import graft.operators.Dedup
    // two components: {1,2,3,9} via chain 1-2, 2-3, 3-9; {5,6}
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 9L), (5L, 6L))
      .toDF("doc_a", "doc_b")
    val cc = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 9L -> 1L,
      5L -> 5L, 6L -> 5L))
  }

  test("connected components: long chain converges in O(log^2 n) rounds") {
    import graft.operators.Dedup
    // diameter-255 path: plain min-label propagation would need ~255
    // rounds; the large/small-star contraction must land well inside
    // the default maxIter=50 budget (Kiveris SoCC'14 bound) — within
    // 20 rounds, or connectedComponents throws
    val n = 256
    val pairs = (0 until n - 1).map(i => (i.toLong, (i + 1).toLong))
      .toDF("doc_a", "doc_b")
    val comps = Dedup.connectedComponents(pairs, maxIter = 20)
      .collect().map(x => (x.getLong(0), x.getLong(1)))
    assert(comps.length == n)
    assert(comps.forall(_._2 == 0L),
      s"all nodes must land in component 0: ${comps.filter(_._2 != 0L).take(5).toSeq}")
  }

  test("connected components agree with GraphX on real LSH pairs") {
    import graft.operators.Dedup
    val pairs = Dedup.lshCandidatePairsFrom(Dedup.lshBandKeysNarrow(
      Tables.documents(spark, sf()), "doc_id", "text", 5, 8, 2), "doc_id")
      .cache()
    val mine = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val gx = org.apache.spark.graphx.Graph
      .fromEdgeTuples(
        pairs.rdd.map(r => (r.getLong(0), r.getLong(1))), defaultValue = 0)
      .connectedComponents().vertices.collect()
      .map { case (v, c) => v -> c }.toMap
    assert(mine == gx)
    pairs.unpersist()
  }

  test("cosine top-k: nearest neighbor of a duplicated vector is its twin") {
    val vecs = Seq(
      (0L, Array(1.0, 0.0, 0.0)),
      (1L, Array(1.0, 0.001, 0.0)), // ~twin of 0
      (2L, Array(0.0, 1.0, 0.0)),
      (3L, Array(-1.0, 0.0, 0.1)))
      .toDF("id", "v")
    val top = Similarity.cosineTopK(vecs, vecs.filter(col("id") === 0), 2)
      .orderBy(col("rnk")).collect()
    assert(top.head.getAs[Long]("vec_id") == 1L)
    assert(top.head.getAs[Int]("rnk") == 1)
  }

  test("sign bucket: identical sign patterns collide, opposites do not") {
    val vecs = Seq(
      (0L, Array(1.0f, 2.0f, 3.0f, 4.0f, 1f, 1f, 1f, 1f)),
      (1L, Array(5.0f, 1.0f, 9.0f, 2.0f, 3f, 4f, 5f, 6f)), // same signs
      (2L, Array(-1.0f, -2.0f, 3.0f, 4.0f, 1f, 1f, 1f, 1f)))
      .toDF("vec_id", "embedding")
    val b = vecs.select(col("vec_id"),
        Similarity.signBucket(col("embedding"), 8).as("bucket"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(b(0L) == b(1L))
    assert(b(0L) != b(2L))
  }

  test("narrow band keys equal the groupBy band keys on real documents") {
    val docs = Tables.documents(spark, sf())
    val viaAgg = Dedup.lshBandKeysPlan(docs, "doc_id", "text", 5, 8, 2)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val viaNarrow = Dedup.lshBandKeysNarrow(docs, "doc_id", "text", 5, 8, 2)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(viaAgg.nonEmpty)
    assert(viaNarrow == viaAgg)
  }

  // winnow fixture — 9-word docs with a controlled shared span: pairs
  // (1,2) and (3,4) each share a full 7+-token span; doc 5 is
  // unrelated; docs 100+ all open with the same 8-token boilerplate
  // banner, whose fingerprints exceed Winnow.DfCap
  private def words(seed: String, n: Int): String =
    (0 until n).map(i => s"$seed$i").mkString(" ")

  private val banner = words("legal", 9)
  private val corpus: Seq[(Long, String)] =
    Seq(
      (1L, "alpha " + words("shareA", 8)),
      (2L, "beta "  + words("shareA", 8)),
      (3L, words("shareB", 8) + " gamma"),
      (4L, words("shareB", 8) + " delta"),
      (5L, words("lonely", 9))) ++
      (100L to 120L).map(i => (i, banner + s" tail$i"))

  test("narrow fingerprint path equals the batch window-min derivation") {
    import graft.operators.Winnow
    // doc 200 repeats one word: every window is an all-tie, where only
    // the rightmost tie rule fixes spos
    val docs = (corpus :+ (200L -> ("rep " * 12).trim)).toDF("doc_id", "text")
      .withColumn("source", concat(lit("s"), (col("doc_id") % 3).cast("string")))
    // batch derivation: explode grams with position, each hash once per
    // window it falls in, min and rightmost-min position per (doc,
    // window) — the explode/group-by shape the DuckDB oracle replays
    val grams = docs.select(col("doc_id"), col("source"),
        graft.operators.TextAnalysis.wordNgrams(col("text"), 4).as("gs"))
      .select(col("doc_id"), col("source"),
        size(col("gs")).cast("long").as("ng"), posexplode(col("gs")))
      .filter(col("ng") >= 4)
      .select(col("doc_id"), col("source"), col("ng"),
        col("pos").cast("long").as("p"),
        graft.operators.KmvSketch.hash32(col("col")).as("h"))
    val batch = grams.select(col("doc_id"), col("source"), col("ng"),
        col("h"), col("p"),
        explode(sequence(greatest(col("p") - 3, lit(0L)),
          least(col("p"), col("ng") - 4))).as("j"))
      .groupBy(col("doc_id"), col("source"), col("ng"), col("j"))
      .agg(min(col("h")).as("fp"),
        min_by(col("p"), struct(col("h"), (-col("p")).as("np"))).as("spos"))
    val win = Winnow.windows(docs, "source")
    assert(win.columns.toSeq == batch.columns.toSeq)
    assert(win.exceptAll(batch).isEmpty && batch.exceptAll(win).isEmpty,
      "Winnow.windows must equal the explode/group-by rows, j and spos included")
    assert(!win.isEmpty)
    val fps = Winnow.fingerprints(docs).as[(Long, Long)].collect()
    assert(fps.length == fps.toSet.size, "fingerprints are distinct per doc")
    assert(fps.toSet == batch.select(col("doc_id"), col("fp")).distinct()
      .as[(Long, Long)].collect().toSet)
  }
}
