package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed BPE-merge training — the actual byte-pair-encoding
  * vocabulary learner (Sennrich et al., "Neural Machine Translation of
  * Rare Words with Subword Units", ACL 2016), upgrading
  * [[TextAnalysis.bpeishCount]]'s regex approximation to the real
  * algorithm. BPE trains on the corpus WORD-FREQUENCY table, not the
  * raw text: a word's symbol sequence starts as its characters, and
  * each round greedily merges the globally most frequent adjacent
  * symbol pair (frequency-weighted), until `rounds` merges are learned.
  *
  * Scale shape — the standard distributed formulation:
  *  - [[wordFreqs]] collapses the corpus to its vocabulary ONCE (one
  *    shuffle on the word); every training round thereafter touches
  *    only vocab-sized data, never the corpus again.
  *  - Per round: adjacent-pair counts are a narrow explode + one
  *    partially-aggregated groupBy (pair space ≤ total symbols); the
  *    single best pair comes to the driver (one row — the merge table
  *    IS driver-sized index metadata, the same boundary as
  *    [[KMeansCluster]]'s centroid collect); the merge itself is a NARROW
  *    per-row fold. `localCheckpoint` cuts the plan ladder per round.
  *
  * Cross-engine determinism (q97): symbol sequences are space-joined
  * strings (symbols never contain spaces, so `endsWith(" " + l)` tests
  * exactly "last symbol == l"); the merge is a left-to-right greedy
  * fold — the same fold DuckDB expresses with `list_reduce` — and all
  * counts are exact integers with a total (cnt DESC, l ASC, r ASC)
  * tiebreak, so the learned merge table is engine-exact.
  *
  * Reference analog: none — the reference counts tokens but learns no
  * vocabulary; beyond-reference member of the text family (q22-q24).
  */
object BpeTrain {

  /** Corpus → (word, freq): whitespace tokens, empties dropped. */
  def wordFreqs(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(TextAnalysis.tokens(col(textCol))).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))

  /** Initial symbol sequence: the word's characters, space-joined.
    * (split on the empty pattern keeps a trailing "" — filtered.) */
  def initSeq(word: Column): Column =
    array_join(filter(split(word, ""), x => length(x) > 0), " ")

  /** One greedy left-to-right merge pass of pair (l, r) over a
    * space-joined symbol sequence: fold symbols into a new sequence,
    * concatenating WITHOUT a space when the accumulator's last symbol
    * is exactly `l` and the incoming symbol is `r` (which fuses them
    * into l+r). A symbol just formed by a merge never re-merges within
    * the pass unless it independently equals `l` — the standard
    * non-overlapping greedy semantics. */
  def mergeOnce(seq: Column, l: String, r: String): Column =
    aggregate(split(seq, " "), lit(""),
      (acc, x) =>
        when(acc === "", x)
          .when((acc === l || acc.endsWith(" " + l)) && x === r,
            concat(acc, x))
          .otherwise(concat(acc, lit(" "), x)))

  /** Frequency-weighted adjacent-pair counts of a (freq, seq) frame. */
  private[operators] def pairCounts(seqs: DataFrame): DataFrame = {
    val syms = split(col("seq"), " ")
    seqs.select(col("freq"),
        explode(zip_with(
          slice(syms, lit(1), size(syms) - 1),
          slice(syms, lit(2), size(syms) - 1),
          (a, b) => struct(a.as("l"), b.as("r")))).as("p"))
      .groupBy(col("p.l").as("l"), col("p.r").as("r"))
      .agg(sum(col("freq")).as("cnt"))
  }

  /** Learn `rounds` merges from a (word, freq) table. Returns the
    * merge list in application order: (round, l, r, cnt). Stops early
    * when no adjacent pair remains. */
  def merges(words: DataFrame, rounds: Int): Seq[(Int, String, String, Long)] = {
    require(rounds >= 1 && rounds <= 10000, s"rounds=$rounds out of range")
    var seqs = words
      .select(col("freq"), initSeq(col("word")).as("seq"))
      .localCheckpoint()
    val learned = Seq.newBuilder[(Int, String, String, Long)]
    var round = 1
    var exhausted = false
    while (round <= rounds && !exhausted) {
      val best = pairCounts(seqs)
        .orderBy(col("cnt").desc, col("l").asc, col("r").asc)
        .limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val (l, r, cnt) =
          (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        learned += ((round, l, r, cnt))
        val prev = seqs
        seqs = seqs.select(col("freq"), mergeOnce(col("seq"), l, r).as("seq"))
          .localCheckpoint()
        prev.unpersist(blocking = false)
        round += 1
      }
    }
    seqs.unpersist(blocking = false)
    learned.result()
  }

  /** Encode a word with a learned merge list (applied in order):
    * space-joined symbol sequence → final subword tokens. */
  def applyMerges(word: Column, ms: Seq[(Int, String, String, Long)]): Column =
    split(ms.foldLeft(initSeq(word)) { case (c, (_, l, r, _)) =>
      mergeOnce(c, l, r)
    }, " ")

  /** Per-document REAL subword count under a learned vocabulary: the
    * production replacement for [[TextAnalysis.bpeishCount]]. Narrow —
    * one fold per word per merge, no joins. */
  def subwordCount(text: Column, ms: Seq[(Int, String, String, Long)]): Column =
    aggregate(
      transform(filter(TextAnalysis.tokens(text), t => length(t) > 0),
        w => size(applyMerges(w, ms))),
      lit(0), (acc, x) => acc + x)
}
