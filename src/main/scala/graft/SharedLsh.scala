package graft

import scala.collection.concurrent.TrieMap

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

import graft.SessionArtifacts.memo
import graft.operators.Dedup

/** Wall-clock ledger for session-artifact builds (the r12 verdict's
  * accounting ask): every Shared* getter builds through
  * [[SessionArtifacts.memo]], which wraps the build in [[timed]], so
  * whatever the warmup pass materializes lands here with its build
  * seconds and the bench can CHARGE the artifacts instead of hiding
  * them inside the warmup. Entries accumulate (parameterised getters
  * like strongComponentsAt build once per parameter) and are EXCLUSIVE:
  * a per-thread stack of builds in flight lets a parent's entry leave
  * out the seconds of the child builds it triggers (candidatePairs'
  * entry leaves out the bandKeys build it starts), so the entries
  * partition the build time and may be summed. Timing-only: the build
  * expression is passed through unchanged, so cached results and
  * semantics are untouched. */
object ArtifactTimer {
  private val times = TrieMap.empty[String, Double]

  /** Nanoseconds spent in child builds of one build in flight. */
  private final class Frame { var childNanos = 0L }
  private val inFlight = ThreadLocal.withInitial[List[Frame]](() => Nil)

  def timed[T](name: String)(build: => T): T = {
    val outer = inFlight.get
    val frame = new Frame
    inFlight.set(frame :: outer)
    val t0 = System.nanoTime()
    val r = try build finally {
      inFlight.set(outer)
      outer.headOption.foreach(_.childNanos += System.nanoTime() - t0)
    }
    val dt = (System.nanoTime() - t0 - frame.childNanos) / 1e9
    times.updateWith(name)(prev => Some(prev.getOrElse(0.0) + dt))
    r
  }
  def snapshot: Map[String, Double] = times.toMap
  def clear(): Unit = times.clear()
}

/** The session-artifact registry behind every Shared* getter: one map
  * from (session, ledger name, parameters) to the built value. A getter
  * is one [[memo]] call around its build expression, which runs once
  * per key and is timed under the ledger name. Values are whatever the
  * build returns — a checkpointed frame, a pair of frames
  * (SharedGrams.postingPair), a driver-side Seq (SharedBpe.merges), a
  * broadcast (RangeJoin.table) or a scalar (SharedWinnow.adaptiveCap).
  *
  * Lifecycle: checkpointed blocks and broadcasts live until [[clear]] of
  * their session, a newer [[memoVersion]] or the SparkContext's end.
  * Entries are keyed by the session object, so one session's clear never
  * touches another's frames. */
object SessionArtifacts {
  private val entries = TrieMap.empty[(SparkSession, String, Any), Any]

  def memo[T](s: SparkSession, name: String, key: Any)(build: => T): T =
    entries.getOrElseUpdate((s, name, key),
      ArtifactTimer.timed(name)(build)).asInstanceOf[T]

  /** [[memo]] for an artifact of inputs that change in place: `version`
    * names their current state (RangeJoin.table passes its files'
    * identity). The first call at a new version evicts and releases the
    * entries of `key`'s other versions, so a refresh leaves no stale
    * artifact behind. */
  def memoVersion[T](s: SparkSession, name: String, key: Any, version: Any)(
      build: => T): T =
    entries.get((s, name, (key, version))) match {
      case Some(v) => v.asInstanceOf[T]
      case None =>
        entries.keys.foreach {
          case k @ (`s`, `name`, (`key`, v)) if v != version =>
            entries.remove(k).foreach(release)
          case _ => ()
        }
        memo(s, name, (key, version))(build)
    }

  /** Drop `s`'s entries, destroy their broadcasts and free the blocks of
    * every checkpointed frame among them. `Dataset.unpersist` does not
    * reach a `localCheckpoint` frame's blocks (they belong to the
    * checkpointed RDD under the plan's `LogicalRDD` leaf), so the RDD
    * itself is unpersisted.
    * Checkpoints taken INSIDE a build (megaEdgeJaccard's and
    * componentsWhere's inner pins) are not reachable from the stored
    * frame and stay until the SparkContext ends. A frame still in use
    * over a cleared artifact fails with "Checkpoint block not found". */
  def clear(s: SparkSession): Unit =
    entries.keys.filter(_._1 eq s).foreach { k =>
      entries.remove(k).foreach(release)
    }

  private def release(v: Any): Unit = v match {
    case df: Dataset[_] =>
      GraftSqlBridge.logicalPlan(df.toDF())
        .collect { case r: LogicalRDD => r.rdd }
        .foreach(_.unpersist(blocking = true))
    case b: Broadcast[_] => GraftSqlBridge.destroy(b)
    case (a, b) => release(a); release(b)
    case _ => ()
  }
}

/** Session-scoped artifacts for the LSH dedup pipeline's expensive
  * shared stages, keyed by (session, data dir, parameters).
  *
  * q17 (candidate pairs), q40 (clusters) and q44 (retention stats) are
  * all views over the same two artifacts:
  *
  *   band table  = shingle → minhash signature → band keys   (1 pass)
  *   components  = star edges → connected components         (CC loop)
  *
  * Recomputing those per query tripled the most expensive work in the
  * suite. The registry materializes each artifact once per session+input
  * (`localCheckpoint`) and shares it — exactly the move a 100 TB
  * pipeline makes by persisting the band table and the component map to
  * parquet between stages; in-process the checkpoint is the same
  * dataflow cut. Correctness is unaffected: both artifacts are
  * deterministic functions of the input (md5-based hashing, exact CC
  * fixpoint), so a cached read equals a recompute bit-for-bit.
  */
object SharedLsh {

  final case class Params(n: Int, k: Int, bands: Int)
  val Default: Params = Params(n = 5, k = 8, bands = 2)

  /** Materialized (doc_id, bk) band table for the documents table —
    * via the NARROW signature path (per-row array min, zero shuffles;
    * identical rows to the groupBy path, spec-asserted in
    * DedupSimilaritySpec). */
  def bandKeys(s: SparkSession, dir: String,
               p: Params = Default): DataFrame =
    memo(s, "SharedLsh.bandKeys", (dir, p))(
      Dedup.lshBandKeysNarrow(Tables.documents(s, dir), "doc_id", "text",
        p.n, p.k, p.bands).localCheckpoint())

  /** Materialized (doc_id, h0..h{k-1}) minhash signature table — the
    * wide row shape consumers that compare signatures component-wise
    * (q172's estimator calibration) need, cached next to [[bandKeys]]
    * so the md5-per-shingle pass is paid once per session+input. */
  def signatures(s: SparkSession, dir: String,
                 p: Params = Default): DataFrame =
    memo(s, "SharedLsh.signatures", (dir, p))(
      Dedup.minhashSignatures(Tables.documents(s, dir), "doc_id", "text",
        p.n, p.k).localCheckpoint())

  /** Materialized candidate pairs (doc_a < doc_b) from the shared band
    * table. Cached like the band table itself: the bk self-join +
    * distinct is re-derived by every candidate-bounded consumer
    * (q17/q82/q172/…), and the result is the small screened pair set —
    * exactly the artifact a pipeline persists between the banding and
    * verification stages. */
  def candidatePairs(s: SparkSession, dir: String,
                     p: Params = Default): DataFrame =
    memo(s, "SharedLsh.candidatePairs", (dir, p))(
      Dedup.lshCandidatePairsFrom(bandKeys(s, dir, p), "doc_id")
        .localCheckpoint())

  /** Materialized distinct (doc_id, sh) n-shingle rows for CANDIDATE
    * docs only — the verification-stage artifact every exact-overlap
    * kernel over the LSH-screened set reads (q172's exact Jaccard):
    * restrict to the candidate-doc set FIRST, then explode. Bounded by
    * candidate volume × doc length, never corpus × doc length. */
  def candidateShingleRows(s: SparkSession, dir: String,
                           p: Params = Default): DataFrame =
    memo(s, "SharedLsh.candidateShingleRows", (dir, p)) {
      import org.apache.spark.sql.functions._
      val cand = candidatePairs(s, dir, p)
      val cdocs = cand.select(col("doc_a").as("doc_id"))
        .union(cand.select(col("doc_b"))).distinct()
      Tables.documents(s, dir).join(broadcast(cdocs), "doc_id")
        .select(col("doc_id"),
          explode(Dedup.charShingles(col("text"), p.n)).as("sh"))
        .distinct()
        .localCheckpoint()
    }

  /** Materialized (doc_id, component) near-dup cluster map: star edges
    * over the shared band table → connected components. */
  def components(s: SparkSession, dir: String,
                 p: Params = Default): DataFrame =
    memo(s, "SharedLsh.components", (dir, p))(
      Dedup.connectedComponents(
        Dedup.lshStarEdgesFrom(bandKeys(s, dir, p), "doc_id"))
        .localCheckpoint())

  /** Materialized INCREMENTALLY-maintained component map (q212): the
    * history docs' (doc_id % 10 ≠ 0) map is the stored artifact, a
    * delta batch contributes only [[Dedup.incrementalCandidatePairs]],
    * and CC runs over stored-map star edges ∪ delta pairs — the merge
    * graph is |history map| + |delta pairs| edges, independent of
    * history PAIR volume. Cached like [[components]]: both CC loops
    * are deterministic exact fixpoints, and the merged map is
    * precisely the artifact an incremental pipeline persists between
    * batches. */
  def incrementalComponents(s: SparkSession, dir: String,
                            p: Params = Default): DataFrame =
    memo(s, "SharedLsh.incrementalComponents", (dir, p)) {
      import org.apache.spark.sql.functions.col
      val banded = bandKeys(s, dir, p)
      val hist = banded.filter(col("doc_id") % 10 =!= 0)
      val delta = banded.filter(col("doc_id") % 10 === 0)
      val stored = Dedup.connectedComponents(
        Dedup.lshStarEdgesFrom(hist, "doc_id"))
      val storedEdges = stored
        .filter(col("doc_id") =!= col("component"))
        .select(col("component").as("doc_a"), col("doc_id").as("doc_b"))
      val deltaPairs = Dedup.incrementalCandidatePairs(
        hist, delta, "doc_id")
      Dedup.connectedComponents(storedEdges.union(deltaPairs).distinct())
        .localCheckpoint()
    }

  /** Exact 5-gram edge Jaccard for every candidate edge INSIDE the
    * 11+-member megaclusters: (component, csize, doc_a, doc_b, jfp)
    * with zero-overlap chance collisions kept (jfp = 0 via the left
    * join). The q243 diagnosis and the q244 repair consume the same
    * frame — shingles are computed only for megacluster members, all
    * joins shuffle-hash (edge volume scales with duplication rate). */
  def megaEdgeJaccard(s: SparkSession, dir: String,
                      p: Params = Default): DataFrame =
    memo(s, "SharedLsh.megaEdgeJaccard", (dir, p)) {
      import org.apache.spark.sql.functions._
      val comps = components(s, dir, p)
      val big = comps.groupBy(col("component"))
        .agg(count(lit(1)).as("csize"))
        .filter(col("csize") >= 11)
      val members = comps.join(big.hint("shuffle_hash"), "component")
        .localCheckpoint()
      val edges = candidatePairs(s, dir, p)
        .join(members.select(col("doc_id").as("doc_a"),
          col("component"), col("csize")).hint("shuffle_hash"), "doc_a")
      val sh = Dedup.shingleRows(
        Tables.documents(s, dir).join(
          members.select(col("doc_id")).hint("shuffle_hash"), "doc_id"),
        "doc_id", "text", 5)
        .localCheckpoint()
      val szs = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
      val inter = edges
        .join(sh.select(col("doc_id").as("doc_a"), col("sh"))
          .hint("shuffle_hash"), "doc_a")
        .join(sh.select(col("doc_id").as("doc_b"), col("sh"))
          .hint("shuffle_hash"), Seq("doc_b", "sh"))
        .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("i"))
      edges
        .join(inter.hint("shuffle_hash"), Seq("doc_a", "doc_b"), "left")
        .join(szs.select(col("doc_id").as("doc_a"), col("sz").as("sza"))
          .hint("shuffle_hash"), "doc_a")
        .join(szs.select(col("doc_id").as("doc_b"), col("sz").as("szb"))
          .hint("shuffle_hash"), "doc_b")
        .select(col("component"), col("csize"), col("doc_a"), col("doc_b"),
          expr("""CAST(CAST(coalesce(i, 0L) AS DECIMAL(38,0)) * 1000000
            div (sza + szb - coalesce(i, 0L)) AS BIGINT)""").as("jfp"))
        .localCheckpoint()
    }

  /** Exact connected components of the STRONG-edge subgraph (edge
    * Jaccard ≥ 0.2) inside the megaclusters — the q244 repair map,
    * cached like [[components]]. */
  def strongComponents(s: SparkSession, dir: String,
                       p: Params = Default): DataFrame =
    strongComponentsAt(s, dir, 200000L, p)

  /** [[strongComponents]] at an arbitrary edge-Jaccard threshold —
    * cached per (session, dir, threshold) so q248's sweep pays each
    * fixpoint once per session (a CC fixpoint re-run per bench pass
    * costs the full per-round scheduling floor, SCALE.md lesson #7 —
    * measured 16 s/pass for the three uncached sweeps). */
  def strongComponentsAt(s: SparkSession, dir: String, thrPpm: Long,
                         p: Params = Default): DataFrame = {
    import org.apache.spark.sql.functions.col
    memo(s, "SharedLsh.strongComponentsAt", (dir, p, thrPpm))(
      Dedup.connectedComponents(
        megaEdgeJaccard(s, dir, p).filter(col("jfp") >= thrPpm)
          .select(col("doc_a"), col("doc_b")))
        .localCheckpoint())
  }
}

/** Same artifact-sharing move for the substring-dedup pair: q75
  * (repeated-span coverage) and q86 (exact dup spans) both start from
  * the identical (doc_id, pos, h) 20-gram table over documents — the
  * dominant cost of both (the full-corpus explode + md5). One
  * materialization per session+input serves both, REPARTITIONED BY h
  * before the checkpoint so each consumer's h-keyed window reuses the
  * layout without a new exchange — the in-process analog of persisting
  * the gram index to a bucketed table between pipeline stages.
  * Deterministic (md5 of text), so cached == recomputed bit-for-bit. */
object SharedGrams {

  val N = 20

  def grams(s: SparkSession, dir: String, n: Int = N): DataFrame =
    memo(s, "SharedGrams.grams", (dir, n))(
      operators.DupSpans.grams(Tables.documents(s, dir), "doc_id", "text", n)
        .repartition(org.apache.spark.sql.functions.col("h"))
        .localCheckpoint())

  /** The boilerplate sentinel q55/q196 append to every 7th document —
    * one constant so the detector and the rewriter can never drift. */
  val BoilerSentinel = "all rights reserved contact site admin for removal"

  /** Sentinel-injected (doc_id, lang, txt) projection — cheap map over
    * the scan, not cached; both boilerplate consumers derive from it. */
  def sentinelDocs(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    Tables.documents(s, dir).select(col("doc_id"), col("lang"),
      when(col("doc_id") % 7 === 0,
        concat_ws(" ", col("text"), lit(BoilerSentinel)))
        .otherwise(col("text")).as("txt"))
  }

  /** Word-8-gram position rows (doc_id, p, 16-byte gh) over the
    * sentinel corpus — the shared first stage of the boilerplate
    * detect (q55) → rewrite (q196) pairing. One materialization per
    * session+input: each consumer otherwise re-runs the full scan +
    * tokenize + slice-join + md5 explosion, which the r7 plan audit
    * measured as the dominant cost of both. gh rides as BINARY(16)
    * (unhex'd md5) — half the hex string's exchange width. */
  def sentinel8(s: SparkSession, dir: String): DataFrame =
    memo(s, "SharedGrams.sentinel8", dir) {
      import org.apache.spark.sql.functions._
      sentinelDocs(s, dir)
        .select(col("doc_id"), posexplode(
          operators.TextAnalysis.wordNgrams(col("txt"), 8))
          .as(Seq("pos0", "g")))
        .select(col("doc_id"), (col("pos0") + 1).as("p"),
          unhex(md5(col("g"))).as("gh"))
        .localCheckpoint()
    }

  /** The shared-8-gram similarity-graph edge list (q144 triangle
    * census + q145 degree histogram — and triangleCensus alone
    * consumes it five times: three join legs, degrees, edge count).
    * Bounded by construction (df ∈ [2,10] ⇒ ≤ C(10,2) pairs per
    * gram), so the checkpoint is small however large the corpus. */
  def gramEdges(s: SparkSession, dir: String): DataFrame =
    memo(s, "SharedGrams.gramEdges", dir)(
      operators.Curation.sharedGramEdges(
        Tables.documents(s, dir), "doc_id", "text", n = 8, maxDf = 10)
        .localCheckpoint())

  /** The checkpointed (postings, doc-lengths) pair PRF reads four
    * times (q148) — one materialization per session+input, like every
    * other corpus-sized shared artifact, so repeated query runs reuse
    * one copy instead of checkpointing per invocation. */
  def postingPair(s: SparkSession, dir: String): (DataFrame, DataFrame) =
    memo(s, "SharedGrams.postingPair", dir) {
      val docs = Tables.documents(s, dir)
      import org.apache.spark.sql.functions.{col => c}
      (operators.TrainPrep.termDocs(docs).localCheckpoint(),
        docs.select(c("doc_id"),
          operators.TextAnalysis.tokenCount(c("text")).cast("long")
            .as("dl")).localCheckpoint())
    }

  /** Raw word-8-gram occurrence rows (doc_id, source, gh BINARY(16))
    * over the documents table — the gram-index build input shared by
    * q219 (df/occurrence saturation curve), q220 (delta novelty) and
    * q233 (index aging): each re-ran the full scan + tokenize +
    * slice + md5 per invocation (the dominant cost of all three); the
    * artifact is the occurrence log a production gram index ingests.
    * gh rides as BINARY(16) (unhex'd md5) — half the hex string's
    * width (the sentinel8 discipline). */
  def word8(s: SparkSession, dir: String): DataFrame =
    memo(s, "SharedGrams.word8", dir) {
      import org.apache.spark.sql.functions._
      Tables.documents(s, dir)
        .select(col("doc_id"), col("source"),
          explode(operators.TextAnalysis.wordNgrams(col("text"), 8))
            .as("g"))
        .select(col("doc_id"), col("source"),
          unhex(md5(col("g"))).as("gh"))
        .localCheckpoint()
    }

  /** The positional posting table (term, doc_id, pos) — the second
    * stored index artifact next to [[postingPair]] (TrainPrep's
    * termPositions rows): q112's phrase intersection and
    * q121's proximity bonus both read it; each invocation otherwise
    * re-tokenized the corpus with positions. */
  def termPositions(s: SparkSession, dir: String): DataFrame =
    memo(s, "SharedGrams.termPositions", dir)(
      operators.TrainPrep.termPositions(Tables.documents(s, dir))
        .localCheckpoint())
}

/** Same artifact-sharing move for the embedding-space dedup pipeline:
  * q91's component map (cosine near-dup pairs → connected components)
  * is a deterministic function of the embeddings table — the CC loop's
  * fixed per-round driver cost dominates its tiny input, so one
  * materialization per session+input serves every consumer, exactly as
  * SharedLsh.components does for the MinHash pipeline. */
object SharedCosineCC {

  final case class Params(bits: Int, threshold: Double)
  val Default: Params = Params(bits = 8, threshold = 0.3)

  import org.apache.spark.sql.functions.col
  import graft.operators.{Dedup, Similarity}

  /** Materialized (doc_id, component) map over cosine near-dup pairs. */
  def components(s: SparkSession, dir: String,
                 p: Params = Default): DataFrame =
    memo(s, "SharedCosineCC.components", (dir, p))(
      Dedup.connectedComponents(
        Similarity.cosineNearDupPairs(Tables.embeddings(s, dir),
            p.bits, p.threshold)
          .select(col("va").as("doc_a"), col("vb").as("doc_b")))
        .localCheckpoint())
}

/** Same artifact-sharing move for the IVF oracle suite: the exact-
  * decimal cell assignment over the embeddings table is the dominant
  * cost of BOTH q47 (census over it) and q48 (inverted file for the
  * search) — one materialization per session+input serves both, the
  * in-process analog of persisting the inverted file to parquet. */
object SharedIvf {

  val Stride = 97

  import org.apache.spark.sql.functions.col
  import graft.operators.Similarity

  def vectors(s: SparkSession, dir: String): org.apache.spark.sql.DataFrame =
    Tables.embeddings(s, dir).select(col("vec_id").as("id"),
      Similarity.asDouble(col("embedding")).as("v"))

  def centroids(s: SparkSession, dir: String): org.apache.spark.sql.DataFrame =
    vectors(s, dir).filter(col("id") % Stride === 0)
      .select((col("id") / Stride).cast("long").as("cid"), col("v").as("cv"))

  /** Materialized (id, cid) exact-decimal assignment. */
  def assignment(s: SparkSession, dir: String): org.apache.spark.sql.DataFrame =
    memo(s, "SharedIvf.assignment", dir)(
      Similarity.assignL2Decimal(vectors(s, dir), centroids(s, dir))
        .localCheckpoint())
}

/** Product-quantization artifacts shared by q92/q93/q95: the
  * exact-decimal code assignment is the expensive stage (a window over
  * N·m·ksub candidate rows), and all three queries are views over it —
  * same persist-between-stages move as [[SharedIvf]]. Deterministic
  * function of the input (stride codebook + decimal argmin), so a
  * cached read equals a recompute bit-for-bit. */
object SharedPq {

  val M = 4
  val Dsub = 16
  val Stride = 29

  import graft.operators.ProductQuant

  def codebook(s: SparkSession, dir: String): org.apache.spark.sql.DataFrame =
    ProductQuant.codebookByStride(SharedIvf.vectors(s, dir), M, Dsub, Stride)

  /** Materialized (id, j, code) exact-decimal PQ encoding. */
  def encoded(s: SparkSession, dir: String): org.apache.spark.sql.DataFrame =
    memo(s, "SharedPq.encoded", dir)(
      ProductQuant.encodeDecimal(SharedIvf.vectors(s, dir),
        codebook(s, dir), M, Dsub).localCheckpoint())
}

/** Corpus-trained bigram-LM score column — the CCNet-style quality
  * signal: (doc_id, lm_score) for EVERY document under the LM trained
  * on the corpus itself, read by q103 (exact tercile buckets). The
  * scoring pass (unigram + bigram corpus aggregations joined per token
  * occurrence) dominates q103, and the score column is precisely what
  * a CCNet pipeline materializes once and filters/buckets many ways.
  * Deterministic
  * (integer fixed-point), so a cached read equals a recompute. */
object SharedLm {

  def scored(s: SparkSession, dir: String): DataFrame =
    memo(s, "SharedLm.scored", dir) {
      val docs = Tables.documents(s, dir)
      operators.NgramLm.score(docs, docs).localCheckpoint()
    }
}

/** DSIR importance-score artifact shared by q118 (top-25 selection)
  * and q137 (global top-p% cut): both score EVERY document with the
  * identical hashed-bigram importance-weight model (target = docs
  * containing 'spark'), and the scoring pass — two corpus-wide bigram
  * aggregations plus a per-row weight lookup over every document — is
  * the dominant cost of both. The (doc_id, avg_weight_fp) frame is
  * precisely the score column a DSIR selection pipeline materializes
  * once and then ranks/cuts many ways. Deterministic (md5 bucket
  * hashing, integer fixed-point), so a cached read equals a recompute
  * bit-for-bit. */
object SharedDsir {

  def scored(s: SparkSession, dir: String): DataFrame =
    memo(s, "SharedDsir.scored", dir) {
      import org.apache.spark.sql.functions.col
      val docs = Tables.documents(s, dir)
      val target = docs.filter(col("text").contains("spark"))
      operators.Dsir.scoreWithWeights(docs, operators.Dsir.weightsMap(
        operators.Dsir.importanceWeights(docs, target)))
        .localCheckpoint()
    }
}

/** Benchmark-decontamination shared artifacts — the r12-opt factoring
  * of what q199 (LSH screen + shingle-Jaccard confirm), q234 (winnow
  * screen + containment confirm) and q235 (both screens, one confirm)
  * each re-derived per invocation. Every piece is a deterministic
  * function of the documents table under the FROZEN q199/q234
  * benchmark convention (doc_id % 13, tail-trimmed, ids offset by
  * 10¹²), so a cached read equals a recompute bit-for-bit — and each
  * artifact is precisely what a production decontamination pipeline
  * persists between stages: the benchmark-side fingerprint/band
  * indexes (rebuilt only when the benchmark set changes, not per
  * corpus batch), the screened candidate-pair sets, and the
  * verification-stage shingle rows for candidate docs only (the
  * SharedLsh.candidateShingleRows move).
  *
  * Measured (r12 opt round, sf0.1, within one JVM): the three queries
  * spent 3.7 + 2.2 + 2.5 s/pass re-deriving these; as shared
  * artifacts the per-pass residue is the per-query census/confirm
  * legs only. */
object SharedDecontam {

  import org.apache.spark.sql.functions._

  /** Bench ids live at doc_id + 10¹² — the q199 constant, shared
    * verbatim with every consumer's oracle SQL. */
  val BenchIdBase = 1000000000000L

  /** The injected pseudo-benchmark set (q199/q234/q235 convention):
    * every doc_id % 13 == 0 contributes a tail-trimmed copy under
    * doc_id + 10¹². Cheap map over the scan; not cached. */
  def benchDocs(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).filter(col("doc_id") % 13 === 0)
      .select((col("doc_id") + BenchIdBase).as("doc_id"),
        expr("substr(text, 1, greatest(length(text)-40, 50))").as("text"))

  /** Corpus winnow fingerprints under the train-side alias — a rename
    * VIEW over [[SharedWinnow.fpDoc]] (no extra materialization; the
    * per-query `.distinct().localCheckpoint()` copies q234/q235 each
    * paid duplicated the existing artifact exactly). */
  def corpusFp(s: SparkSession, dir: String): DataFrame =
    SharedWinnow.fpDoc(s, dir)
      .select(col("doc_id").as("train_id"), col("fp"))

  /** Distinct (bench_id, fp) winnow fingerprints of the benchmark set
    * — the bench-side index a decontamination service stores. */
  def benchFp(s: SparkSession, dir: String): DataFrame =
    memo(s, "SharedDecontam.benchFp", dir)(
      graft.operators.Winnow.fingerprints(benchDocs(s, dir))
        .select(col("doc_id").as("bench_id"), col("fp"))
        .localCheckpoint())

  /** (bench_id, bk) LSH band keys of the benchmark set (q17's
    * n=5/k=8/2-band scheme) — benchmark-sized by construction, the
    * only broadcastable frame in this family (the q199 rule). */
  def benchBands(s: SparkSession, dir: String): DataFrame =
    memo(s, "SharedDecontam.benchBands", dir)(
      Dedup.lshBandKeysNarrow(benchDocs(s, dir), "doc_id", "text", 5, 8, 2)
        .select(col("doc_id").as("bench_id"), col("bk"))
        .localCheckpoint())

  /** LSH-screened cross pairs (train_id, bench_id): corpus band table
    * (session artifact) ⋈ broadcast bench band index, distinct. The
    * intra-corpus candidate pairs are never generated. */
  def lshCrossPairs(s: SparkSession, dir: String): DataFrame =
    memo(s, "SharedDecontam.lshCrossPairs", dir)(
      SharedLsh.bandKeys(s, dir)
        .select(col("doc_id").as("train_id"), col("bk"))
        .join(broadcast(benchBands(s, dir)), "bk")
        .select(col("train_id"), col("bench_id")).distinct()
        .localCheckpoint())

  /** Winnow-screened cross pairs: ≥2 shared fingerprints in the
    * df-capped universe (corpus-side df ≤ Winnow.DfCap)
    * — q234's screen, reused verbatim by q235. No data-dependent
    * broadcast: every leg is a shuffle-hash equi-join (candidate
    * volume scales with contamination rate × corpus size). */
  def winnowCandPairs(s: SparkSession, dir: String): DataFrame =
    memo(s, "SharedDecontam.winnowCandPairs", dir) {
      val DfCap = graft.operators.Winnow.DfCap
      val cfp = corpusFp(s, dir)
      val capped = cfp.join(
        cfp.groupBy(col("fp")).agg(count(lit(1)).as("dfc"))
          .filter(col("dfc") <= DfCap).select(col("fp"))
          .hint("shuffle_hash"), "fp")
      capped
        .join(benchFp(s, dir).hint("shuffle_hash"), "fp")
        .groupBy(col("train_id"), col("bench_id"))
        .agg(count(lit(1)).as("nsh"))
        .filter(col("nsh") >= 2)
        .select(col("train_id"), col("bench_id"))
        .localCheckpoint()
    }

  /** Containment-confirmed pairs (uncapped winnow-fingerprint
    * containment of the bench doc in the train doc ≥ 50%, integer
    * ppm) over the UNION of both screens' candidates. The confirm
    * predicate is per-pair and independent of which screen surfaced
    * the pair, so one confirm pass serves q234 (restricted back to
    * the winnow candidates by a semi-join) and q235 (read as-is) —
    * the ruleCompare move: one fenced kernel pass, two consumers. */
  def confirmedPairs(s: SparkSession, dir: String): DataFrame =
    memo(s, "SharedDecontam.confirmedPairs", dir) {
      val cand = winnowCandPairs(s, dir).union(lshCrossPairs(s, dir))
        .distinct()
      val cfp = corpusFp(s, dir)
      val bfp = benchFp(s, dir)
      val inter = cfp
        .join(cand.hint("shuffle_hash"), "train_id")
        .join(bfp.hint("shuffle_hash"), Seq("bench_id", "fp"))
        .groupBy(col("train_id"), col("bench_id"))
        .agg(count(lit(1)).as("i"))
      val szb = bfp.groupBy(col("bench_id")).agg(count(lit(1)).as("szb"))
      inter.join(szb.hint("shuffle_hash"), "bench_id")
        .filter(expr("i * 1000000 div szb") >= 500000L)
        .select(col("train_id"), col("bench_id"))
        .localCheckpoint()
    }

  /** Distinct (doc_id, 5-char shingle) rows for the LSH-screened
    * candidate docs (train AND bench side) — q199's exact-confirm
    * input, the verification-stage artifact
    * (SharedLsh.candidateShingleRows's move for the cross-set
    * screen). Bounded by candidate volume × doc length. */
  def candShingles(s: SparkSession, dir: String): DataFrame =
    memo(s, "SharedDecontam.candShingles", dir) {
      val cross = lshCrossPairs(s, dir)
      val cdocs = cross.select(col("train_id").as("doc_id"))
        .union(cross.select(col("bench_id"))).distinct()
      val corpus = Tables.documents(s, dir)
        .select(col("doc_id"), col("text"))
        .union(benchDocs(s, dir))
      corpus.join(cdocs.hint("shuffle_hash"), "doc_id")
        .select(col("doc_id"),
          explode(Dedup.charShingles(col("text"), 5)).as("sh"))
        .distinct()
        .localCheckpoint()
    }
}

/** BPE merge tables shared by q97 (training readout) and q99 (corpus
  * encode): training is `rounds` driver-coordinated passes over the
  * vocabulary, and both queries need the identical merge list — the
  * learned table is driver-sized metadata (like a centroid set), so
  * the registry holds the Seq itself, not a frame. Deterministic
  * (integer counts, total tiebreak), so a cached read equals a
  * retrain. */
object SharedBpe {

  def merges(s: SparkSession, dir: String,
             rounds: Int): Seq[(Int, String, String, Long)] =
    memo(s, "SharedBpe.merges", (dir, rounds))(
      graft.operators.BpeTrain.merges(
        graft.operators.BpeTrain.wordFreqs(Tables.documents(s, dir), "text"),
        rounds))
}

/** Winnowed-fingerprint artifact shared by q223 (density census) and
  * q226 (screen calibration): the SELECTED rows — per (doc, window)
  * the minimum word-4-gram hash32, with the doc's source and gram
  * count carried for the census consumers. Every winnow product is a
  * per-row expression of [[graft.operators.Winnow]]; the memo spares
  * the consumers the gram hashing (the suite tail before this cache:
  * 4.4 s + 5.6 s each re-deriving it at sf0.1). Deterministic (md5
  * hashes, exact min), so a cached read equals a recompute. */
object SharedWinnow {

  import graft.operators.Winnow

  /** (doc_id, source, ng, j, fp, spos) — [[Winnow.windows]] over the
    * documents table; `spos` is the RIGHTMOST gram position carrying
    * the window minimum (the position census q229 needs; value-set
    * consumers ignore it). Docs with fewer than 4 grams carry no rows. */
  def selected(s: SparkSession, dir: String): DataFrame =
    memo(s, "SharedWinnow.selected", dir)(
      Winnow.windows(Tables.documents(s, dir), "source")
        .localCheckpoint())

  /** Distinct (doc_id, fp) winnowed fingerprints, checkpointed —
    * ONE kernel pass feeding every cap variant's df filter and both
    * self-join legs (before the factor-out, each cap paid its own
    * gram+hash+fold kernel). */
  def fpDoc(s: SparkSession, dir: String): DataFrame =
    memo(s, "SharedWinnow.fpDoc", dir) {
      import org.apache.spark.sql.functions._
      selected(s, dir)
        .select(col("doc_id"), col("fp")).distinct()
        .localCheckpoint()
    }

  /** The DUPLICATION-AWARE screen cap (r11 verdict item 1): the fixed
    * [[Winnow.DfCap]] silently drops
    * real duplicate families once corpus duplication grows — a
    * fingerprint shared by an f-doc organic family has df ≈ m·f under
    * m-fold duplication, so the boilerplate threshold must scale with
    * the MEASURED duplication rate. Multiplier = exact-duplicate
    * multiplicity (rows / distinct text hashes — one cheap md5
    * distinct-count, far cheaper than the near-dup map the cap
    * gates); adaptive cap = ceil(DfCap · n / m), all-integer so both
    * engines agree: (DfCap·n + m − 1) div m. On organic driver data
    * the multiplier ≈ 1 and the cap stays ≈ DfCap; at 10× synth
    * replication it scales to ~160 and keeps the cross-source
    * families the fixed cap loses (q246's vanishing components). */
  def adaptiveCap(s: SparkSession, dir: String): Long =
    memo(s, "SharedWinnow.adaptiveCap", dir) {
      import org.apache.spark.sql.functions._
      val r = Tables.documents(s, dir)
        .agg(count(lit(1)).as("n"),
          count_distinct(md5(col("text"))).as("m"))
        .head()
      val (n, m) = (r.getLong(0), r.getLong(1))
      val base = Winnow.DfCap.toLong
      // empty corpus → the fixed cap (the capFromStore fallback rule)
      if (m == 0L) base else (base * n + m - 1L) / m
    }

  /** [[cappedPairs]] at an explicit df-cap — the parameterized screen
    * variant the adaptive cap plugs into; cached per (session, dir,
    * cap) so the fixed-cap consumers (q226/q238) and the
    * adaptive consumers (q251) each pay their pair join once while
    * sharing ONE [[fpDoc]] kernel pass. */
  def cappedPairsAt(s: SparkSession, dir: String, cap: Long): DataFrame =
    memo(s, "SharedWinnow.cappedPairsAt", (dir, cap))(
      Winnow.cappedPairs(fpDoc(s, dir), cap).localCheckpoint())

  /** The df-capped ≥2-shared winnow candidate-pair artifact —
    * [[Winnow.cappedPairs]] over [[fpDoc]] at [[Winnow.DfCap]]. Shared
    * by q226 (screen calibration) and q238 (dedup retention): the pair
    * derivation is the expensive stage, both consumers are views over
    * it. */
  def cappedPairs(s: SparkSession, dir: String): DataFrame =
    cappedPairsAt(s, dir, Winnow.DfCap.toLong)

  /** [[components]] at an explicit df-cap — cached per cap for the
    * adaptive-screen consumers. */
  def componentsAt(s: SparkSession, dir: String, cap: Long): DataFrame =
    memo(s, "SharedWinnow.componentsAt", (dir, cap))(
      graft.operators.Dedup.connectedComponents(
        cappedPairsAt(s, dir, cap)).localCheckpoint())

  /** Exact connected components over [[cappedPairs]] — the winnow
    * screen's cluster map, cached like SharedLsh.components (q238's
    * retention and q242's cluster profile read the same map). */
  def components(s: SparkSession, dir: String): DataFrame =
    componentsAt(s, dir, Winnow.DfCap.toLong)

  /** [[components]] over a RESTRICTED document universe (`predSql`
    * filters the documents table) — q249's base-world map, cached per
    * (session, dir, predicate) so the kernel + CC fixpoint run once
    * per session (lesson #8: q249's first bench entry re-paid them
    * every pass, 5.8 s of which ~5.5 s was this derivation). q249's
    * oracle replays the same rule from scratch, so the cache cannot
    * drift silently. */
  def componentsWhere(s: SparkSession, dir: String,
                      predSql: String): DataFrame =
    memo(s, "SharedWinnow.componentsWhere", (dir, predSql)) {
      import org.apache.spark.sql.functions.expr
      val fd = Winnow
        .fingerprints(Tables.documents(s, dir).filter(expr(predSql)))
        .localCheckpoint() // df-cap + both self-join legs, one lineage
      graft.operators.Dedup.connectedComponents(
        Winnow.cappedPairs(fd, Winnow.DfCap.toLong))
        .localCheckpoint()
    }

  /** Per-doc BOTH-tie-rule fingerprint artifact — (doc_id, source,
    * nw, n_std, n_rob, sv, rv): distinct position counts and sorted
    * distinct VALUE arrays under the standard (rightmost-min) and
    * robust (Schleimer §5) rules, from ONE pass of the fenced
    * [[Winnow.hashes]] kernel. q231 (position census) and q236
    * (value-index certificate + shared-fp screen) previously each paid
    * the full gram+hash+double-fold kernel (~1.3 s each materialized
    * at sf0.1); the artifact is the per-doc fp VALUE index a
    * production screen stores anyway, so sharing it is the storage
    * reality, not just a cache. */
  def ruleCompare(s: SparkSession, dir: String): DataFrame =
    memo(s, "SharedWinnow.ruleCompare", dir) {
      import org.apache.spark.sql.functions._
      Winnow.hashes(Tables.documents(s, dir), "source")
        .select(col("doc_id"), col("source"), col("nw"),
          size(Winnow.stdSelCol).cast("long").as("n_std"),
          size(Winnow.robSelCol).cast("long").as("n_rob"),
          array_sort(array_distinct(transform(Winnow.stdSelCol,
            p => element_at(col("hs"), p.cast("int")).cast("long"))))
            .as("sv"),
          array_sort(array_distinct(transform(Winnow.robSelCol,
            p => element_at(col("hs"), p.cast("int")).cast("long"))))
            .as("rv"))
        .localCheckpoint()
    }
}
