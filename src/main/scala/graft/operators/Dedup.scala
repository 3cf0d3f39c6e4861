package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Document deduplication operators for training-data pipelines.
  *
  * All hashing is built on `md5` (codegen'd, and bit-identical across
  * engines, which makes every stage oracle-checkable in DuckDB — unlike
  * `hash()`/`xxhash64`, whose seeds differ per engine):
  *
  *  - exact dedup: hash-groupBy on md5(text) — one shuffle on the hash.
  *  - MinHash: signature component j = MIN(md5(j || shingle)) over the
  *    doc's shingle set. Lexicographic min over the hex strings is a
  *    uniform permutation min, so the standard MinHash Jaccard estimate
  *    applies. One groupBy(doc) computes all k components (k agg columns,
  *    no k-fold row blowup).
  *  - LSH banding: band key = md5(band_idx || sig_slice); candidate pairs
  *    are the docs sharing a band key ([[KeyPairs]]: a shuffle join keyed
  *    by band, hot buckets split into slices; no O(n²) anywhere).
  *  - SimHash: 16-bit signature from per-token md5 bits, computed as 16
  *    conditional-sum agg columns in a single groupBy(doc) pass (no
  *    per-bit row explosion).
  */
object Dedup {

  /** Character n-gram shingles of `text` (1 shingle for texts shorter
    * than n). */
  def charShingles(text: Column, n: Int): Column =
    transform(
      sequence(lit(1), greatest(length(text) - (n - 1), lit(1))),
      i => text.substr(i, lit(n)))

  /** (doc, shingle) rows, distinct. */
  def shingleRows(docs: DataFrame, idCol: String, textCol: String,
                  n: Int): DataFrame =
    docs.select(col(idCol), explode(charShingles(col(textCol), n)).as("sh"))
      .distinct()

  /** Exact-Levenshtein verification over CANDIDATE pairs — the
    * order-sensitive verdict kernel next to [[jaccardPairs]]' set-
    * overlap screen (shuffled paragraphs look identical to Jaccard;
    * edit distance sees them). `pairs` carries (doc_a, doc_b) from any
    * blocker — LSH banding (SharedLsh.candidatePairs, q82), shingle
    * overlap, record-linkage blocks; the O(|a|·|b|) kernel never sees
    * a non-candidate. Two semantics-preserving prunings:
    *
    *  - length prefilter: dist ≥ |la−lb| always, so a pair whose
    *    lengths already differ by more than max_len/maxDistDen can
    *    never pass the verdict — dropped before the kernel;
    *  - banded DP: Spark's thresholded levenshtein costs
    *    O(n·threshold); the global maxLen/maxDistDen+1 threshold
    *    bounds every per-pair cutoff, and the −1 above-threshold
    *    sentinel is excluded by the verdict filter.
    *
    * Returns pairs with `dist·maxDistDen ≤ max_len` (default: within
    * 25% of the longer text) as (doc_a, doc_b, dist, max_len). */
  def editVerifiedPairs(pairs: DataFrame, docs: DataFrame,
                        idCol: String, textCol: String,
                        maxDistDen: Int = 4): DataFrame = {
    require(maxDistDen >= 1)
    val ta = docs.select(col(idCol).as("doc_a"), col(textCol).as("t_a"))
    val tb = docs.select(col(idCol).as("doc_b"), col(textCol).as("t_b"))
    pairs.join(ta, "doc_a").join(tb, "doc_b")
      .withColumn("la", length(col("t_a")))
      .withColumn("lb", length(col("t_b")))
      .filter(abs(col("la") - col("lb")) * maxDistDen
        <= greatest(col("la"), col("lb")))
      // PER-PAIR band: threshold = max_len/den + 1 bounds this pair's
      // acceptable distance, so the DP costs O(len·len/den) per pair
      // instead of O(len·corpusMaxLen/den). Distances of kept pairs
      // (dist·den ≤ max_len < threshold·den) are exact; pairs the band
      // abandons return -1, excluded by the verdict filter.
      .select(col("doc_a"), col("doc_b"),
        expr(s"levenshtein(t_a, t_b, " +
          s"greatest(la, lb) div $maxDistDen + 1)").as("dist"),
        greatest(col("la"), col("lb")).as("max_len"))
      .filter(col("dist") >= 0 && col("dist") * maxDistDen <= col("max_len"))
  }

  /** Per-doc MinHash signature table: idCol, h0..h{k-1}.
    *
    * Hash economy: one md5 yields 32 hex chars = four independent 32-bit
    * slices, so k components cost ceil(k/4) md5 calls per shingle (not
    * k) — the md5s are materialized as columns before the groupBy so
    * they are computed exactly once per shingle row regardless of CSE.
    * Each h_j = MIN over shingles of an 8-hex-char slice, i.e. a
    * permutation-min over a 32-bit uniform hash — the standard MinHash
    * estimator. */
  def minhashSignatures(docs: DataFrame, idCol: String, textCol: String,
                        n: Int, k: Int): DataFrame = {
    require(k % 4 == 0, "k must be a multiple of 4 (4 slices per md5)")
    // no distinct(): MIN is duplicate-insensitive, and the distinct
    // would cost a full shuffle of the shingle rows before the agg
    val sh = docs.select(col(idCol),
      explode(charShingles(col(textCol), n)).as("sh"))
    val bases = (0 until k / 4).map(b =>
      md5(concat(lit(s"m$b"), col("sh"))).as(s"m$b"))
    val withBases = sh.select(col(idCol) +: bases: _*)
    val aggs = (0 until k).map(j =>
      min(substring(col(s"m${j / 4}"), (j % 4) * 8 + 1, 8)).as(s"h$j"))
    withBases.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** (id, band-key) table PLAN: band key = md5(band_idx || sig_slice),
    * over the explode→groupBy-min [[minhashSignatures]]. This is the
    * spec reference of [[lshBandKeysNarrow]], the form every run's LSH
    * uses. Pure (no materialization) — consumers that reference the band
    * table more than once (the candidate self-join's two legs, the
    * star-edge hub agg + join) should materialize it first, as
    * graft.SharedLsh does: it caches one checkpointed narrow table per
    * (session, dataset) so q17/q40/q44-style consumers share a single
    * signature computation. At 100 TB this band table is the artifact
    * you'd persist to parquet between pipeline stages. */
  def lshBandKeysPlan(docs: DataFrame, idCol: String, textCol: String,
                      n: Int, k: Int, bands: Int): DataFrame = {
    require(k % bands == 0, "k must be divisible by bands")
    val rows = k / bands
    val sig = minhashSignatures(docs, idCol, textCol, n, k)
    val bandKeys = (0 until bands).map { b =>
      val slice = (0 until rows).map(r => col(s"h${b * rows + r}"))
      md5(concat(lit(b.toString) +: slice: _*))
    }
    sig.select(col(idCol), explode(array(bandKeys: _*)).as("bk"))
  }

  /** NARROW band-key computation: identical (id, bk) rows to
    * [[lshBandKeysPlan]] (spec-asserted), but via per-row array
    * expressions — `array_min(transform(shingles, md5-slice))` replaces
    * the explode→groupBy-min — so it needs NO aggregation at all. This
    * is the form streaming append mode requires (stateful agg before
    * stateful dedup is disallowed) and the zero-shuffle signature path:
    * the only shuffle left in LSH is the band-key join itself. The
    * explode→groupBy form remains the right choice when the shingle
    * rows are reused by other aggregations in the same pass. */
  def lshBandKeysNarrow(docs: DataFrame, idCol: String, textCol: String,
                        n: Int, k: Int, bands: Int): DataFrame = {
    require(k % 4 == 0, "k must be a multiple of 4 (4 slices per md5)")
    require(k % bands == 0, "k must be divisible by bands")
    val rows = k / bands
    // Hash economy (the kernel that dominates LSH wall time at corpus
    // scale — ScaleBench at 1M docs measured 4× on exactly this): the
    // md5-per-shingle array is computed ONCE per md5 family in its own
    // projection, and the k per-hash minima only slice the cached hex
    // strings. Inlining the family array into every h(j) would re-run
    // the shingle+md5 transform k times per row; two chained selects
    // keep it k/4 — CollapseProject will not merge them because that
    // would duplicate a non-cheap expression (SPARK-36718).
    val sh = charShingles(col(textCol), n)
    val withFams = docs.select(col(idCol) +: (0 until k / 4).map(f =>
      transform(sh, s => md5(concat(lit(s"m$f"), s))).as(s"_md$f")): _*)
    // hj = min over shingles of hex slice (j%4) of md5("m{j/4}" || s) —
    // the same permutation-min as minhashSignatures, shuffle-free
    def h(j: Int): Column = array_min(transform(col(s"_md${j / 4}"),
      m => substring(m, (j % 4) * 8 + 1, 8)))
    val bandKeys = (0 until bands).map { b =>
      val slice = (0 until rows).map(r => h(b * rows + r))
      md5(concat(lit(b.toString) +: slice: _*))
    }
    withFams.select(col(idCol), explode(array(bandKeys: _*)).as("bk"))
  }

  /** Star-reduced LSH edges for CLUSTERING, from a pre-built,
    * MATERIALIZED (id, bk) band table: one edge (bucket-min, member) per
    * band-bucket member instead of the full within-bucket clique.
    * Connected components are identical to the clique pair graph (every
    * bucket member is reachable via the hub), but the edge count is
    * O(members) instead of O(members²) and the per-bucket diameter is 2 —
    * the shape that keeps a 100 TB near-dup clustering run linear when a
    * hot bucket holds thousands of near-identical docs. */
  def lshStarEdgesFrom(banded: DataFrame, idCol: String): DataFrame = {
    val hubs = banded.groupBy(col("bk")).agg(min(col(idCol)).as("hub"))
    banded.join(hubs, "bk")
      .filter(col(idCol) =!= col("hub"))
      .select(col("hub").as("doc_a"), col(idCol).as("doc_b"))
      .distinct()
  }

  /** (da, db, i, sza, szb) for every pair within `docs` sharing
    * distinct character n-gram shingles: `i` the shared count, `sza`
    * and `szb` the shingle-set sizes. The exact-overlap kernel under
    * [[jaccardPairs]] and [[containmentPairs]]. */
  private def shingleOverlaps(docs: DataFrame, idCol: String,
                              textCol: String, n: Int): DataFrame = {
    val sh = shingleRows(docs, idCol, textCol, n)
    val sizes = sh.groupBy(col(idCol)).agg(count(lit(1)).as("sz"))
    KeyPairs.same(sh)
      .select(col("doc_a").as("da"), col("doc_b").as("db"),
        col("nshared").as("i"))
      .join(sizes.select(col(idCol).as("da"), col("sz").as("sza")), "da")
      .join(sizes.select(col(idCol).as("db"), col("sz").as("szb")), "db")
  }

  /** Exact n-gram Jaccard similarity for all pairs within `docs`
    * (quadratic in candidate-set size — pre-filter the input, e.g. to LSH
    * candidates or a bounded sample, before calling at scale). */
  def jaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                   n: Int, threshold: Double): DataFrame =
    shingleOverlaps(docs, idCol, textCol, n)
      .select(col("da"), col("db"), col("i"),
        (col("sza") + col("szb") - col("i")).as("un"),
        (col("i") / (col("sza") + col("szb") - col("i"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)

  /** Exact n-gram CONTAINMENT for all pairs within `docs` (same
    * quadratic caveat as [[jaccardPairs]] — feed a bounded candidate
    * set at scale). Containment c(a→b) = |A∩B| / |A| is the
    * EXCERPT detector: a short document quoted verbatim inside a long
    * one scores ≈ 1 while its Jaccard (union-normalized) collapses to
    * ≈ |A|/|B| and slips under every near-dup threshold. Emits both
    * directions plus the symmetric overlap coefficient
    * max(c(a→b), c(b→a)) = i / min(|A|, |B|), thresholded on the
    * overlap. All divisions are single IEEE divides of exact integers
    * — correctly rounded in any engine, so the scores hash-match. */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
                       n: Int, threshold: Double): DataFrame =
    shingleOverlaps(docs, idCol, textCol, n)
      .select(col("da"), col("db"), col("i"),
        (col("i") / col("sza")).as("cont_ab"),
        (col("i") / col("szb")).as("cont_ba"),
        (col("i") / least(col("sza"), col("szb"))).as("overlap"))
      .filter(col("overlap") >= threshold)

  /** Connected components over an undirected pair list (a,b) — turns
    * near-dup candidate PAIRS into dedup CLUSTERS (component id = min
    * member id, so one canonical keeper per cluster).
    *
    * Alternating large-star / small-star (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC'14): each round rewires
    * every node's neighbors to the minimum of its neighborhood, which
    * contracts chains exponentially — O(log² n) rounds worst case, a
    * handful in practice — where plain min-label propagation needs
    * O(diameter) rounds (near-dup chains at corpus scale reach
    * diameters in the hundreds, which a 20-round propagation loop
    * silently fails to converge on). Each half-step is one groupBy-min
    * plus one join over the current edge list; per-round RDD
    * materialization truncates lineage so plans don't grow across
    * iterations.
    *
    * Isolation: the loop's shuffles run in a dedicated child session
    * (`spark.newSession()`) with `shuffle.partitions=8` and AQE off —
    * the iterated tables are tiny post-LSH edge lists, and at the
    * caller's full fan-out each round would pay stages of near-empty
    * task scheduling (AQE's runtime re-planning is pure latency at this
    * size). The caller's session conf is never touched, so concurrent
    * queries on it are unaffected. Each round is materialized as a
    * persisted RDD (truncates lineage like localCheckpoint, but with
    * explicit lifecycle: the previous round's blocks are unpersisted as
    * soon as the next is materialized — only the final edge set stays
    * cached, backing the returned frame).
    *
    * Convergence: TWO (large, small) contractions per driver round-trip
    * (halves per-round job latency; detection lags at most one cheap
    * extra pass), candidate fixpoint detected by a (count, Σu, Σv,
    * Σ(u%p·v%p)) checksum and then CONFIRMED by an exact set comparison
    * (counts equal + exceptAll empty), so a checksum collision cannot
    * terminate the loop early with intermediate labels. Throws if
    * `maxIter` contraction rounds pass before the exact fixpoint: a
    * cutoff would return per-node min-neighbor labels that need not
    * equal the component minimum.
    */
  def connectedComponents(pairs: DataFrame, aCol: String = "doc_a",
                          bCol: String = "doc_b",
                          maxIter: Int = 50): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val caller = pairs.sparkSession
    val loopSession = caller.newSession()
    loopSession.conf.set("spark.sql.shuffle.partitions", "8")
    loopSession.conf.set("spark.sql.adaptive.enabled", "false")

    val canon = pairs
      .select(greatest(col(aCol), col(bCol)).as("u"),
        least(col(aCol), col(bCol)).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
    val schema = canon.schema
    // .rdd compiles the input plan under the CALLER's conf (right for
    // the corpus-sized upstream); everything downstream re-enters SQL
    // through the child session and its scoped-down shuffle fan-out
    var rdd = canon.rdd.persist(StorageLevel.MEMORY_AND_DISK)
    var edges = loopSession.createDataFrame(rdd, schema)

    def checksum(e: DataFrame): (Long, Long, Long, Long) = {
      val p = lit(1000003L)
      val r = e.agg(count(lit(1)), sum(col("u")), sum(col("v")),
        sum((col("u") % p) * (col("v") % p))).collect().head
      if (r.isNullAt(1)) (0L, 0L, 0L, 0L)
      else (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    }

    var prev = checksum(edges)
    var converged = prev._1 == 0L
    var i = 0
    while (!converged && i < maxIter) {
      val nextDf = smallStar(largeStar(smallStar(largeStar(edges))))
      val nextRdd = nextDf.rdd.persist(StorageLevel.MEMORY_AND_DISK)
      val next = loopSession.createDataFrame(nextRdd, schema)
      val cs = checksum(next) // materializes nextRdd
      if (cs == prev) {
        // exact confirm: same count (from checksum) + no edge in next
        // missing from edges ⇒ identical sets ⇒ true fixpoint
        converged = next.exceptAll(edges).isEmpty
      }
      prev = cs
      rdd.unpersist(blocking = false)
      rdd = nextRdd
      edges = next
      i += 2 // two contraction rounds per loop pass
    }
    if (!converged) {
      rdd.unpersist(blocking = false)
      throw new IllegalStateException(
        s"connectedComponents: not converged after $maxIter rounds — " +
          "raise maxIter (O(log^2 n) rounds suffice for any graph)")
    }
    // converged state is one star per component: hub = component min,
    // every non-hub node has the hub as its (unique) neighbor
    val nonHub = edges.groupBy(col("u")).agg(min(col("v")).as("component"))
      .select(col("u").as("doc_id"), col("component"))
    val hubs = edges.select(col("v")).distinct()
      .join(edges.select(col("u")).distinct(),
        col("v") === col("u"), "left_anti")
      .select(col("v").as("doc_id"), col("v").as("component"))
    val result = nonHub.union(hubs)
    // hand the result back in the caller's session (so callers can join
    // it with their own frames without mixing session states); the plan
    // reads the final persisted edge RDD, which stays cached
    caller.createDataFrame(result.rdd, result.schema)
  }

  /** Large-star: every node u rewires its LARGER neighbors to
    * m(u) = min(Γ(u) ∪ {u}). Input/output edges are canonical
    * (u > v, i.e. big end first). */
  private def largeStar(e: DataFrame): DataFrame = {
    val nbrs = e.select(col("u"), col("v"))
      .union(e.select(col("v").as("u"), col("u").as("v")))
    val m = nbrs.groupBy(col("u"))
      .agg(min(col("v")).as("mv"))
      .select(col("u"), least(col("u"), col("mv")).as("m"))
    nbrs.join(m, "u")
      .filter(col("v") > col("u")) // rewire only larger neighbors
      .select(col("v").as("u"), col("m").as("v")) // v > u ≥ m ⇒ canonical
      .distinct()
  }

  /** Small-star: every node u rewires its SMALLER neighbors (and itself)
    * to m(u) = min of those neighbors. Canonical edges in and out. */
  private def smallStar(e: DataFrame): DataFrame = {
    val m = e.groupBy(col("u")).agg(min(col("v")).as("m"))
    val rewired = e.join(m, "u")
      .filter(col("v") =!= col("m"))
      .select(col("v").as("u"), col("m").as("v")) // v > m ⇒ canonical
    rewired.union(m.select(col("u"), col("m").as("v"))).distinct()
  }

  /** 16-bit SimHash per doc from whitespace tokens: single groupBy with 16
    * conditional sums. Token hash = first 4 hex chars of md5 decoded to an
    * int via ascii arithmetic (portable to the SQL oracle). */
  def simhash16(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = docs.select(col(idCol),
      explode(split(col(textCol), " ")).as("tok"))
    val h4 = substring(md5(col("tok")), 1, 4)
    def hexDigit(p: Int): Column = {
      val a = ascii(substring(h4, p, 1))
      a - when(a >= 97, 87).otherwise(48)
    }
    val tok16 = ((hexDigit(1) * 16 + hexDigit(2)) * 16 + hexDigit(3)) * 16 +
      hexDigit(4)
    val bitSums = (0 until 16).map { i =>
      val p = 1L << i
      sum(when(floor(col("tok16") / p) % 2 === 1, 1).otherwise(-1)).as(s"s$i")
    }
    val sums = tok.select(col(idCol), tok16.as("tok16"))
      .groupBy(col(idCol)).agg(bitSums.head, bitSums.tail: _*)
    val sim = (0 until 16).map { i =>
      when(col(s"s$i") >= 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)
    sums.select(col(idCol), sim.as("simhash"))
  }
}
