package graft

import org.apache.spark.sql.functions._
import graft.operators.TrainPrep

class TrainPrepSpec extends SparkSpec {
  import spark.implicits._

  test("clusterAwareSplit: exact duplicates always share a split") {
    val docs = Seq(
      (1L, "alpha beta"), (2L, "alpha beta"), (3L, "alpha beta"),
      (4L, "gamma"), (5L, "delta"), (6L, "gamma"))
      .toDF("doc_id", "text")
    val got = TrainPrep.clusterAwareSplit(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val byCluster = got.groupBy(_._2)
    // one split per duplicate group, cluster id = min member
    assert(byCluster(1L).map(_._1).toSet == Set(1L, 2L, 3L))
    assert(byCluster(4L).map(_._1).toSet == Set(4L, 6L))
    assert(byCluster.forall { case (_, ms) => ms.map(_._3).distinct.size == 1 })
  }

  test("clusterAwareSplitBy: component members share a split, rest are singletons") {
    val docs = (1L to 8L).map(d => (d, s"text $d")).toDF("doc_id", "text")
    val comp = Seq((2L, 2L), (5L, 2L), (7L, 2L), (3L, 3L), (4L, 3L))
      .toDF("doc_id", "component")
    val got = TrainPrep.clusterAwareSplitBy(docs, comp)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(got.length == 8) // every doc exactly once
    val byCluster = got.groupBy(_._2)
    assert(byCluster(2L).map(_._1).toSet == Set(2L, 5L, 7L))
    assert(byCluster(3L).map(_._1).toSet == Set(3L, 4L))
    Seq(1L, 6L, 8L).foreach(d =>
      assert(byCluster(d).map(_._1).toSeq == Seq(d)))
    assert(byCluster.forall { case (_, ms) => ms.map(_._3).distinct.size == 1 })
  }

  test("tokenBalancedShards: partition is exact and balanced") {
    val docs = (1L to 200L)
      .map(d => (d, Seq.fill(1 + (d % 7).toInt)("w").mkString(" ")))
      .toDF("doc_id", "text")
    val n = 5
    val got = TrainPrep.tokenBalancedShards(docs, n)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.map(_._1).toSet == (1L to 200L).toSet) // every doc, once
    assert(got.forall(t => t._3 >= 0 && t._3 < n))
    val total = got.map(_._2).sum
    val maxDoc = got.map(_._2).max
    val perShard = got.groupBy(_._3).view.mapValues(_.map(_._2).sum)
    // contiguous token spans: each shard within one max-doc of the ideal
    assert(perShard.values.forall(s =>
      math.abs(s - total / n) <= maxDoc + total % n))
  }

  test("chunks: windows, overlap, tail truncation, empty docs") {
    val docs = Seq((1L, "abcdefghij"), (2L, ""), (3L, "xy"))
      .toDF("doc_id", "text")
    val got = TrainPrep.chunks(docs, width = 6, step = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
        r.getString(3))).toSet
    assert(got == Set(
      (1L, 0, 1, "abcdef"), (1L, 1, 5, "efghij"), (1L, 2, 9, "ij"),
      (3L, 0, 1, "xy")))
  }

  test("indexLookupAnd: conjunctive intersection with per-term tf") {
    val docs = Seq(
      (1L, "a b a c"), (2L, "a b"), (3L, "b c"), (4L, "a c c"))
      .toDF("doc_id", "text")
    val got = TrainPrep.indexLookupAnd(docs, Seq("a", "c"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((1L, 2L, 1L), (4L, 1L, 2L)))
  }

  test("indexLookupAnd: term filters push below the posting aggregation") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter => LFilter, LogicalPlan}
    val plan = TrainPrep.indexLookupAnd(
        Tables.documents(spark, sf()), Seq("query", "scan"))
      .queryExecution.optimizedPlan
    // a term filter left ABOVE an aggregate means pushdown regressed
    def filterAboveAgg(p: LogicalPlan): Boolean = p match {
      case LFilter(cond, child)
          if cond.references.exists(_.name == "term") =>
        child.collectFirst { case a: Aggregate => a }.isDefined
      case _ => p.children.exists(filterAboveAgg)
    }
    assert(!filterAboveAgg(plan), s"term filter above aggregate:\n$plan")
  }

  test("phraseSearch: adjacency, overlaps, and single-term phrases") {
    val docs = Seq(
      (1L, "x a b a b y"), // two occurrences
      (2L, "a x b"),       // both terms, not adjacent
      (3L, "b a"),         // wrong order
      (4L, "a b"),         // exact
      (5L, "a a a"))       // self-overlap phrase below
      .toDF("doc_id", "text")
    def got(phrase: String*) =
      TrainPrep.phraseSearch(docs, phrase)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got("a", "b") == Map(1L -> 2L, 4L -> 1L))
    assert(got("a", "a") == Map(5L -> 2L))
    assert(got("a", "b", "y") == Map(1L -> 1L))
    assert(got("a") == Map(1L -> 2L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      5L -> 3L))
  }

  test("tokenBalancedShards: empty corpus yields no shards, no error") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(TrainPrep.tokenBalancedShards(empty, 4).count() == 0L)
  }

  test("bm25Rank: fixed-point scores, disjunctive match, rank order") {
    val docs = Seq(
      (1L, "a b a"), (2L, "a c"), (3L, "b b b c"), (4L, "c c"))
      .toDF("doc_id", "text")
    val nd = 4L; val tt = 11L // 3 + 2 + 4 + 2 tokens
    // the spec twin of the operator kernel: same ops, same order
    def s(tf: Long, dl: Long, df: Long): Long =
      math.floor(
        ((2 * (nd - df) + 1).toDouble / (2 * df + 1).toDouble)
          * ((22 * tf * tt).toDouble
             / (10 * tf * tt + 3 * tt + 9 * dl * nd).toDouble)
          * 1e6).toLong
    val exp = Map( // df_a = 2, df_b = 2
      1L -> (2L, s(2, 3, 2) + s(1, 3, 2)), // a tf2 + b tf1
      2L -> (1L, s(1, 2, 2)),              // a tf1
      3L -> (1L, s(3, 4, 2)))              // b tf3
    val got = TrainPrep.bm25Rank(docs, Seq("a", "b"), topK = 10).collect()
    assert(got.map(r => r.getLong(0) ->
      ((r.getLong(1), r.getLong(2)))).toMap == exp)
    // ranked by score desc, doc_id asc — and the non-matching doc 4 absent
    val scores = got.map(r => (r.getLong(2), r.getLong(0)))
    assert(scores.sortBy(t => (-t._1, t._2)).toSeq == scores.toSeq)
  }

  test("bm25Rank: topK truncates on the total (score desc, doc asc) order") {
    val docs = Seq(
      (1L, "a"), (2L, "a"), (3L, "a"), (4L, "b"))
      .toDF("doc_id", "text")
    // identical docs score identically: the limit must cut by doc_id
    val got = TrainPrep.bm25Rank(docs, Seq("a"), topK = 2)
      .collect().map(_.getLong(0)).toSeq
    assert(got == Seq(1L, 2L))
  }

  test("bm25ProximityRank: adjacency bonus by tightest in-order gap") {
    val docs = Seq(
      (1L, "q w x"),   // gap 0  -> bonus 1000000
      (2L, "q x w"),   // gap 1  -> bonus  500000
      (3L, "w q"),     // reversed only -> no bonus
      (4L, "q"))       // second term absent -> no bonus
      .toDF("doc_id", "text")
    val got = TrainPrep.bm25ProximityRank(docs, Seq("q", "w"), topK = 10)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3)))).toMap
    // bonus = total - base, which is what the test pins per doc
    assert(got(1L)._2 - got(1L)._1 == 1000000L)
    assert(got(2L)._2 - got(2L)._1 == 500000L)
    assert(got(3L)._2 == got(3L)._1)
    assert(got(4L)._2 == got(4L)._1)
    assert(got.keySet == Set(1L, 2L, 3L, 4L))
  }

  test("postings: df/tf and the sorted-postings digest") {
    val docs = Seq(
      (10L, "a b a"), (2L, "b c"), (7L, "a"))
      .toDF("doc_id", "text")
    val got = TrainPrep.postings(docs)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    def digest(ids: Seq[Long]) = {
      val md = java.security.MessageDigest.getInstance("MD5")
      md.digest(ids.sorted.mkString(",").getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    }
    assert(got("a") == ((2L, 3L, digest(Seq(7L, 10L)))))
    assert(got("b") == ((2L, 2L, digest(Seq(2L, 10L)))))
    assert(got("c") == ((1L, 1L, digest(Seq(2L)))))
  }

  test("PRF expansion surfaces a doc containing no original query term") {
    // feedback docs (1,2) contain q + the co-occurring term 'exp';
    // doc 3 has ONLY 'exp' — unreachable by the plain query, ranked
    // by the expanded one (the PRF effect in miniature)
    val docs = Seq(
      (1L, "q exp w w"), (2L, "q exp w w"), (3L, "exp exp w w"),
      (4L, "w w w w"), (5L, "w w w w"))
      .toDF("doc_id", "text")
    val plain = TrainPrep.bm25Rank(docs, Seq("q"), 10)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val prf = TrainPrep.prfExpandedRank(docs, Seq("q"),
        fbK = 2, nExpand = 1, topK = 10)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(!plain.contains(3L))
    assert(prf.contains(3L))
    assert(prf.contains(1L) && prf.contains(2L))
  }

  test("PRF with no expandable term degenerates to the plain ranking") {
    // feedback docs contain nothing but the query term and words that
    // appear in EVERY doc (escore ties resolve by term asc, but a
    // universal term adds the same score to all docs -> order holds)
    val docs = Seq(
      (1L, "q q"), (2L, "q w"), (3L, "w w"))
      .toDF("doc_id", "text")
    val plain = TrainPrep.bm25Rank(docs, Seq("q"), 2)
      .select("doc_id").collect().map(_.getLong(0)).toList
    val prf = TrainPrep.prfExpandedRank(docs, Seq("q"),
        fbK = 2, nExpand = 0, topK = 2)
      .select("doc_id").collect().map(_.getLong(0)).toList
    assert(prf == plain)
  }
}
