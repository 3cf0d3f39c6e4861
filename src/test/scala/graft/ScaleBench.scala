package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{BloomDedup, Curation, Dedup, Winnow}

/** Dev micro-bench (NOT part of the Verify/Bench contract): drives the
  * dedup/curation scale path on a SYNTHETIC 1M-document corpus — 200×
  * the sf0.1 test corpus — to give the 100 TB claims a measured data
  * point beyond toy scale and to surface anything that only breaks past
  * test size.
  *
  * The corpus is generated distributed (spark.range + column
  * expressions, no driver materialization): ~60-word docs from md5-
  * derived pseudo-words; every 97th doc duplicates doc (id-97)'s text
  * exactly, every 89th appends one word to it (near-dup).
  *
  *   sbt "Test/runMain graft.ScaleBench [nDocs]"
  *
  * `SPARK_GRAFT_SCALE_ONLY=stage1,stage2` restricts the run to the
  * named stages (skipped stages report -1) — how the 10M-doc decade
  * points are measured without paying for the full suite at 10×.
  */
object ScaleBench {

  /** Deterministic synthetic corpus, built entirely from column exprs. */
  def corpus(spark: SparkSession, n: Long): DataFrame = {
    val base = spark.range(n).select(col("id").as("doc_id"))
    // 40 distinct pseudo-words cycled by doc; doc body = 60 words whose
    // seed mixes doc_id so content is unique unless forced otherwise
    val seed = (col("doc_id") - pmod(col("doc_id"), lit(97L)))
    val body = concat_ws(" ", (0 until 60).map(i =>
      substring(md5(concat(
        when(pmod(col("doc_id"), lit(97L)) === 0 || pmod(col("doc_id"), lit(89L)) === 0,
          seed).otherwise(col("doc_id")).cast("string"),
        lit(s":$i"))), 1, 6)): _*)
    val txt = when(pmod(col("doc_id"), lit(89L)) === 0 &&
        pmod(col("doc_id"), lit(97L)) =!= 0,
      concat(body, lit(" neardupmark"))).otherwise(body)
    base.select(col("doc_id"), txt.as("text"))
  }

  private def timed[A](name: String, acc: StringBuilder)(f: => A): A = {
    val t0 = System.nanoTime()
    val r = f
    val s = (System.nanoTime() - t0) / 1e9
    acc.append(f""""$name":${s}%.2f,""")
    r
  }

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(1000000L)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // Shuffle fan-out must grow with the data, exactly as a cluster
    // deployment sizes it: at 32 partitions a 10M-doc run packs ~17M
    // gram rows into each per-partition hash map and the lpa stage
    // OOMs a 48 GB heap (measured round 7) — ~40k docs per partition
    // keeps per-task state flat across the decade ladder while small
    // runs stay at one partition per core.
    // SPARK_GRAFT_SCALE_PARTS overrides for sizing experiments.
    // Default rule (round 8 recalibration): ~8k docs per partition,
    // i.e. ~400-500k EXPANDED rows per task for the gram/token stages
    // that explode 50-60 rows per doc — sizing by doc count alone
    // (r7's n/40k) left the 1M-doc gram agg at 32 partitions with
    // ~1.7M hash-map entries per task, measured 3.0x slower than the
    // same stage at 256 partitions (192.6 s vs 63.5 s); per-task agg
    // state, not total work, was the regime change.
    val shufflePartitions = sys.env.get("SPARK_GRAFT_SCALE_PARTS")
      .map(_.toInt)
      .getOrElse(math.max(cpus.toInt, (n / 8000L).toInt))
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-scale-bench")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val only: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_SCALE_ONLY")
        .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    def want(names: String*): Boolean = only.forall(o => names.exists(o))
    val acc = new StringBuilder("{")
    def timedL(name: String)(f: => Long): Long =
      if (want(name)) timed(name, acc)(f) else -1L
    try {
      // materialize the synthetic corpus to parquet once: operator
      // timings then measure the operators against a real scan, not
      // the 60-md5-per-row generator re-running inside every stage.
      // SPARK_GRAFT_SCALE_DOCS reuses a prior run's parquet (stage
      // iteration at 10M docs shouldn't re-pay the generate)
      val reusedCorpus = sys.env.contains("SPARK_GRAFT_SCALE_DOCS")
      val tmp = sys.env.getOrElse("SPARK_GRAFT_SCALE_DOCS", {
        val t = java.nio.file.Files.createTempDirectory("graft-scale")
          .resolve("docs").toString
        timed("generate", acc) {
          corpus(spark, n).write.mode("overwrite").parquet(t)
        }
        t
      })
      val docs = spark.read.parquet(tmp)
      // a reused corpus must actually BE the scale the JSON will claim:
      // a stale path + wrong nDocs arg would silently mislabel the
      // measured point (parquet metadata count — cheap even at 10M)
      if (reusedCorpus) {
        val actual = docs.count()
        require(actual == n,
          s"SPARK_GRAFT_SCALE_DOCS corpus has $actual rows, nDocs arg says $n")
      }

      val dupGroups = timedL("exact_dedup") {
        docs.groupBy(md5(col("text"))).agg(count(lit(1)).as("c"))
          .filter(col("c") > 1).count()
      }
      // materialize the band table ONCE (the SharedLsh discipline):
      // star edges reference it twice and the CC loop again — feeding
      // them the raw plan re-runs the minhash kernel per consumer
      // (first measured run of this file: 612 s + 721 s at 1M docs;
      // with the checkpoint + the per-family md5 hoist in
      // lshBandKeysNarrow both collapse to seconds)
      val lshWanted = want("band_table", "star_edges",
        "connected_components", "incremental_lsh")
      val banded: DataFrame = if (lshWanted) timed("band_table", acc) {
        val b = Dedup.lshBandKeysNarrow(docs, "doc_id", "text", 5, 8, 2)
          .toDF("doc_id", "bk").localCheckpoint()
        b.count()
        b
      } else null
      val edges = if (banded != null && want("star_edges"))
        timed("star_edges", acc) {
          Dedup.lshStarEdgesFrom(banded, "doc_id").count()
        } else -1L
      val comps = if (banded != null && want("connected_components"))
        timed("connected_components", acc) {
          Dedup.connectedComponents(Dedup.lshStarEdgesFrom(banded, "doc_id"))
            .select(col("component")).distinct().count()
        } else -1L
      // incremental crawl: 10% arrives as a new batch against the
      // stored index (filtered views of the one band table — the
      // probe cost, not the signature cost, is what's measured)
      val incPairs = if (banded != null && want("incremental_lsh"))
        timed("incremental_lsh", acc) {
          Dedup.incrementalCandidatePairs(
            banded.filter(col("doc_id") % 10 =!= 0),
            banded.filter(col("doc_id") % 10 === 0), "doc_id").count()
        } else -1L
      if (banded != null) banded.unpersist()
      val chunkKept = timedL("chunk_dedup") {
        val chunks = docs.select(col("doc_id"),
          posexplode(graft.operators.TextAnalysis.wordChunks(col("text"), 20)))
          .select(col("doc_id"), col("pos").cast("long").as("idx"),
            md5(col("col")).as("ch"))
        chunks.groupBy(col("ch"))
          .agg(min(col("doc_id") * 100000L + col("idx")).as("keep"))
          .count()
      }
      val bloomConfirmed = timedL("bloom_prefilter") {
        val hist = docs.filter(col("doc_id") % 2 === 0)
          .select(md5(col("text")).as("h")).distinct()
        val bf = BloomDedup.buildFilter(hist, col("h"),
          expectedItems = n, numBits = math.min(8L * n, 67108863L))
        val inc = docs.filter(col("doc_id") % 2 =!= 0)
          .select(col("doc_id"), md5(col("text")).as("h"))
        inc.filter(BloomDedup.mightContain(bf, col("h")))
          .join(hist, Seq("h"), "left_semi").count()
      }
      val boiler = timedL("boilerplate_ngrams") {
        Curation.boilerplateDocs(docs, "doc_id", "text", 8, 3).count()
      }
      // the q196 REBUILD kernel (round 8's O(n+m) splice): one shared
      // gram artifact (the SharedGrams discipline), df≥3 boilerplate
      // set, per-doc covered windows, array_except set-complement
      // splice + md5 of the rebuilt text — the full boilerplate-removal
      // path, not just the census above
      val boilerRebuilt = timedL("boilerplate_rebuild") {
        val grams = docs.select(col("doc_id"), posexplode(
            graft.operators.TextAnalysis.wordNgrams(col("text"), 8))
            .as(Seq("pos0", "g")))
          .select(col("doc_id"), (col("pos0") + 1).as("p"),
            unhex(md5(col("g"))).as("gh"))
          .localCheckpoint()
        val boilerG = grams.groupBy(col("gh"))
          .agg(countDistinct(col("doc_id")).as("nd"))
          .filter(col("nd") >= 3).select(col("gh"))
        val cov = grams.join(boilerG, Seq("gh"), "left_semi")
          .groupBy(col("doc_id"))
          .agg(collect_list(col("p")).as("ps"))
          .select(col("doc_id"),
            array_sort(array_distinct(flatten(transform(col("ps"),
              p => sequence(p, p + 7))))).as("covered"))
        // tokens as their own projection: element_at inside the lambda
        // would otherwise re-run split(text) once per kept token (the
        // round-9 wordBigrams hot-path rule; q196 carries the same fix)
        val out = docs.join(cov, Seq("doc_id"))
          .select(split(col("text"), " ").as("_t"), col("covered"))
          .select(md5(concat_ws(" ", transform(
            array_except(sequence(lit(1), size(col("_t"))),
              col("covered")),
            p => element_at(col("_t"), p)))).as("h"))
          .count()
        grams.unpersist()
        out
      }
      // round-8 second half: the q223 winnowing kernel — per-row window
      // minima of the word-4-gram hash32 array (Winnow.windows, no
      // shuffle), then the per-doc distinct-fingerprint census.
      val winnowDocs = timedL("winnowing") {
        Winnow.windows(docs)
          .groupBy(col("doc_id"))
          .agg(countDistinct(col("fp")).as("nfp"))
          .count()
      }
      // round-9: q219's gram-saturation kernel — ONE df/occ gram agg
      // over 16-byte hash keys shared across the 5-threshold sweep via
      // a vocab-sized explode. Sizes the largest single aggregation a
      // df-threshold calibration pays at corpus scale.
      val gramSat = timedL("gram_saturation") {
        val stats = docs
          .select(col("doc_id"),
            explode(graft.operators.TextAnalysis
              .wordNgrams(col("text"), 8)).as("g"))
          .groupBy(unhex(md5(col("g"))).as("gh"))
          .agg(countDistinct(col("doc_id")).as("df"),
            count(lit(1)).as("occ"))
        stats.select(col("df"), col("occ"),
            explode(array(Seq(1, 2, 4, 8, 16)
              .map(k => lit(k.toLong)): _*)).as("k"))
          .groupBy(col("k"))
          .agg(sum(when(col("df") > col("k"), col("occ")).otherwise(0L))
            .as("occ_over"))
          .count()
      }
      // round-9 second half: the q226/q234 winnow-screen chain ON TOP
      // of the fp derivation the `winnowing` stage times — distinct
      // (doc, fp), the df-cap filter, and capped-bucket pair
      // generation with FORCED shuffle on the self-join legs (scale
      // lesson #4: broadcast would pin output parallelism). Sizes the
      // candidate-pair stage a fingerprint dedup/decontam screen pays.
      val winnowPairs = timedL("winnow_screen") {
        val fd = Winnow.windows(docs)
          .select(col("doc_id"), col("fp")).distinct()
          .localCheckpoint()
        Winnow.cappedPairs(fd, Winnow.DfCap.toLong).count()
      }
      // round-11: the q238/q247 retention-policy chain END TO END —
      // the decision a dedup pipeline actually ships: winnow screen
      // pairs (Winnow.fingerprints, Winnow.cappedPairs)
      // → df-cap → ≥2-shared confirm → exact CC fixpoint → the packed
      // quality-argmax keep census (the factored Retention policy).
      // Sizes the whole keep/drop decision per decade, not just the
      // candidate stage. The pair frame is checkpointed because the
      // CC loop iterates over it; the component map joins back to the
      // corpus shuffle-hash on ids (never broadcast — it scales with
      // duplication rate).
      val retentionKept = timedL("retention_policy") {
        val fd = Winnow.fingerprints(docs)
          .localCheckpoint() // df-cap + both self-join legs, one lineage
        val pairs = Winnow.cappedPairs(fd, Winnow.DfCap.toLong)
          .localCheckpoint() // the CC fixpoint iterates over this frame
        val comps = Dedup.connectedComponents(pairs)
        val scored = docs.select(col("doc_id"),
          graft.operators.Retention.packed(col("text"), col("doc_id"))
            .as("packed"))
        graft.operators.Retention.withKeep(scored, comps)
          .filter(col("keep")).count()
      }
      // round-12: the q250/q253 cap-calibration kernels — the census a
      // crawl pipeline pays per batch BEFORE trusting a dedup cap on a
      // duplication-shifted corpus: exact-dup multiplicity (one count
      // + md5 distinct over the scan) → the adaptive cap, then the
      // per-fp df spectrum (double hash-agg over the fingerprint
      // kernel) → the 99.9‰ quantile cap via a census-sized
      // triangular-join cumulative. Everything after the kernel is
      // census-scale; the decade should track the fingerprint kernel.
      val capSum = timedL("cap_calibration") {
        val r = docs.agg(count(lit(1)).as("nn"),
          count_distinct(md5(col("text"))).as("mm")).head()
        val acap = (Winnow.DfCap * r.getLong(0) +
          r.getLong(1) - 1L) / r.getLong(1)
        val fd = Winnow.fingerprints(docs)
        val nd = fd.groupBy(col("fp")).agg(count(lit(1)).as("nd"))
          .filter(col("nd") >= 2)
        val spec = nd.groupBy(col("nd")).agg(count(lit(1)).as("k"))
          .localCheckpoint() // census; cumulative legs + total
        val tot = spec.agg(coalesce(sum(col("k")), lit(0L)).as("tot"))
        val q999 = spec
          .join(spec.select(col("nd").as("nd2"), col("k").as("k2")),
            col("nd2") <= col("nd"))
          .groupBy(col("nd")).agg(sum(col("k2")).as("cum"))
          .crossJoin(broadcast(tot))
          .filter(col("cum") * 1000L >= col("tot") * 999L)
          .agg(coalesce(min(col("nd")), lit(0L))).head().getLong(0)
        acap + q999
      }
      // round-10: q233's index-aging kernel — the stored 8-gram index
      // lifecycle a crawl-scale pipeline pays continuously: build
      // (map-side-combined MAX of last_seen per 16-byte gram key),
      // TTL eviction (a narrow filter on the stored artifact, NOT a
      // rebuild), and the delta batch's novelty join against the AGED
      // index. Sizes the full maintain-consult loop per decade.
      val agingNovel = timedL("index_aging") {
        def grams8(d: DataFrame) = d
          .select(col("doc_id"),
            explode(graft.operators.TextAnalysis
              .wordNgrams(col("text"), 8)).as("g"))
          .select(col("doc_id"), unhex(md5(col("g"))).as("gh"))
        // NO localCheckpoint here (unlike q233, where sizes + the aged
        // join are TWO actions over the index): this stage runs one
        // action, so the index agg feeds the join in a single lineage —
        // materializing the ~530M-row index in one JVM's storage is
        // what OOM'd the first 10M attempt (the boilerplate_rebuild
        // class; a cluster distributes exactly that artifact)
        val idxFull = grams8(docs.filter(col("doc_id") % 7 =!= 0))
          .groupBy(col("gh"))
          .agg(max(expr("(doc_id div 20) % 5")).as("last_seen"))
        val aged = idxFull.filter(col("last_seen") >= 2)
        val delta = grams8(docs.filter(col("doc_id") % 7 === 0))
          .distinct()
        // NO shuffle_hash hint here: the build side would be the
        // index-sized aged frame, whose per-partition hash map OOMs at
        // the 1M decade (measured) — sort-merge is the right shape
        // when BOTH sides are corpus-proportional
        delta
          .join(aged.select(col("gh"), lit(1L).as("hit")),
            Seq("gh"), "left")
          .agg(count(lit(1)).as("n_delta"),
            sum(when(col("hit").isNull, 1L).otherwise(0L)).as("n_novel"))
          .collect()(0).getLong(1)
      }
      // round-9: the q221/q228 curriculum-packing chain — one global
      // prefix-rank stage cut plus a within-stage packing prefix sum,
      // both through the two-phase range-partitioned kernels. Kernel
      // buckets grow with the data (~50k keys per bucket sort) but cap
      // at 256 so the broadcast offset fold stays shallow.
      val curPack = timedL("curriculum_packing") {
        import graft.operators.{TextAnalysis, WeightedSample}
        val b = math.min(256, math.max(32, (n / 50000L).toInt))
        val scored = docs.select(col("doc_id"),
          concat(lit("src"), pmod(col("doc_id"), lit(20L)).cast("string"))
            .as("source"),
          floor(TextAnalysis.qualityScore(col("text")) * 1000000)
            .cast("long").as("score_fp"),
          greatest(TextAnalysis.tokenCount(col("text")).cast("long"),
            lit(1L)).as("w"))
        val keyed = scored.select(col("doc_id"), col("source"), col("w"),
          concat(
            lpad((lit(1000000000000000L) - col("score_fp"))
              .cast("string"), 16, "0"),
            lit("-"), lpad(col("doc_id").cast("string"), 12, "0")).as("k"),
          lit(1L).as("one")).localCheckpoint()
        val nn = keyed.count()
        val staged = WeightedSample.withCumWeight(keyed, "k", "one", b)
          .select(col("doc_id"), col("source"), col("w"),
            expr(s"CAST((cum - 1) * 4 div $nn AS BIGINT)").as("stage"))
        val curriculum = staged.select(col("source"), col("w"),
          concat(col("stage").cast("string"), lit(":"),
            md5(col("doc_id").cast("string"))).as("ke"))
        WeightedSample.withCumWeight(curriculum, "ke", "w", b)
          .withColumn("pre", col("cum") - col("w"))
          .select(col("source"), expr("pre div 2048").as("seq"))
          .groupBy(col("seq"))
          .agg(countDistinct(col("source")).as("n_sources"))
          .groupBy(col("n_sources")).agg(count(lit(1)).as("n_seqs"))
          .count()
      }
      // round-4 operators at the same synthetic scale
      val spans = timedL("exact_dup_spans") {
        graft.operators.ExactSubstring
          .dupSpans(docs, "doc_id", "text", 20).count()
      }
      // scratch-bounded variant for hosts whose disk cannot hold the
      // one-shot gram shuffle (the 10M-doc regime on this VM):
      // SPARK_GRAFT_SCALE_PASSES hash-sliced rounds, exact same spans
      val spansSharded = timedL("exact_dup_spans_sharded") {
        val p = sys.env.getOrElse("SPARK_GRAFT_SCALE_PASSES", "4").toInt
        graft.operators.ExactSubstring
          .dupSpansSharded(docs, "doc_id", "text", 20, passes = p).count()
      }
      val saRows = timedL("suffix_ranks_2pct") {
        graft.operators.SuffixArray.suffixRanks(
          docs.filter(col("doc_id") % 50 === 0), "doc_id", "text",
          maxLen = 32, startLen = 8).count()
      }
      // round-6 operators: chunk-level rebuild + LPA communities
      val rebuilt = timedL("chunk_rebuild") {
        graft.operators.Curation
          .chunkDedupRebuild(docs, "doc_id", "text", 20).count()
      }
      // round-7: the native one-pass CDC cut expression (q188's
      // kernel) — O(|text|) integer rolling hash per doc, zero
      // shuffles before the distinct-chunk-hash count
      val cdcDistinct = timedL("cdc_chunking") {
        val nl = length(col("text")).cast("long")
        val withCuts = docs.withColumn("cuts",
          graft.plans.CdcCutsExpr.cdcCuts(col("text")))
        val starts = transform(concat(array(lit(0L)), col("cuts")),
          x => x + 1L)
        val ends = concat(col("cuts"), array(nl))
        withCuts
          .select(explode(zip_with(starts, ends, (s1, e) =>
            col("text").substr(s1.cast("int"),
              (e - s1 + 1L).cast("int")))).as("c"))
          .select(md5(col("c")).as("h"))
          .agg(countDistinct(col("h")).as("d"))
          .head.getLong(0)
      }
      // SPARK_GRAFT_SCALE_EDGE_PASSES > 1 slices the gram space so the
      // edge-builder's self-join exchange fits bounded scratch (the
      // one-shot at 10M docs measured past this VM's free disk) —
      // exact parity spec'd in CurationSpec
      val edgePasses =
        sys.env.getOrElse("SPARK_GRAFT_SCALE_EDGE_PASSES", "1").toInt
      val lpaComms = timedL("lpa_communities") {
        graft.operators.Graphs.labelPropagation(
          graft.operators.Curation
            .sharedGramEdgesSharded(docs, "doc_id", "text", 8, 10,
              edgePasses)
            .localCheckpoint(), rounds = 2)
          .select(col("label")).distinct().count()
      }
      val audited = timedL("validate_audit") {
        graft.operators.Validate.audit(docs, Seq(
          graft.operators.Validate.NotNull("text"),
          graft.operators.Validate.Matches("text", "^[0-9a-f]"),
          graft.operators.Validate.Unique(Seq("doc_id")))).count()
      }
      // synthetic embeddings: 16 md5-derived dims in [-1, 1), n/10 rows
      val nEmb = math.max(1000L, n / 10)
      val emb = spark.range(nEmb).select(col("id").as("vec_id"),
        expr("""transform(sequence(0, 15), i ->
          cast(conv(substring(md5(concat(cast(id as string), ':', i)), 1, 8),
            16, 10) as float) / 2147483648.0f - 1.0f)""").as("embedding"))
      val bits = graft.operators.Similarity.bucketBitsFor(nEmb, 16)
      val pairs = timedL("cosine_neardup") {
        graft.operators.Similarity
          .cosineNearDupPairs(emb, bits, threshold = 0.8).count()
      }
      // PQ compression of the same embeddings: the exact-decimal
      // kernel q92 runs, 4 subspaces of 4 dims, 64-centroid stride
      // codebook
      val pqCodes = timedL("pq_encode") {
        val vecs = emb.select(col("vec_id").as("id"),
          col("embedding").cast("array<double>").as("v"))
        val cb = graft.operators.ProductQuant.codebookByStride(
          vecs, m = 4, dsub = 4, stride = math.max(1L, nEmb / 64).toInt)
        graft.operators.ProductQuant.encodeDecimal(vecs, cb, m = 4, dsub = 4)
          .count()
      }
      // BPE on the synthetic corpus's word-frequency table (vocab is
      // md5-word-sized; the corpus collapse is the dominant cost)
      val bpeRounds = timedL("bpe_train_3") {
        graft.operators.BpeTrain.merges(
          graft.operators.BpeTrain.wordFreqs(docs, "text"), rounds = 3).size
          .toLong
      }
      // round-7: the q205 NB-classifier shape — token class counts
      // (vocab-sized hash agg), one broadcast totals row, doc-distinct
      // tokens joined to the vocab on md5 keys, per-doc integer vote
      // sum. Labels are synthetic (doc_id % 7); the measured shape,
      // not the separation, is the point at this scale.
      val nbScored = timedL("nb_classifier") {
        val lab = docs.select(col("doc_id"),
          (col("doc_id") % 7 === 0).as("hi"), col("text"))
        val toks = lab.select(col("doc_id"), col("hi"),
          explode(split(col("text"), " ")).as("tok"))
        val vocab = toks.groupBy(md5(col("tok")).as("th"))
          .agg(sum(when(col("hi"), 1L).otherwise(0L)).as("ch"),
            sum(when(col("hi"), 0L).otherwise(1L)).as("cl"))
          .filter(col("ch") + col("cl") >= 5L)
        val tot = toks.agg(
          sum(when(col("hi"), 1L).otherwise(0L)).as("nh"),
          sum(when(col("hi"), 0L).otherwise(1L)).as("nl"))
        toks.select(col("doc_id"), md5(col("tok")).as("th")).distinct()
          .join(vocab, Seq("th"))
          .crossJoin(broadcast(tot))
          .select(col("doc_id"),
            when(col("ch") * col("nl") > lit(2L) * col("cl") * col("nh"),
              1L)
              .when(col("cl") * col("nh") >
                lit(2L) * col("ch") * col("nl"), -1L)
              .otherwise(0L).as("v"))
          .groupBy(col("doc_id")).agg(sum(col("v")).as("score"))
          .count()
      }
      // round-5 operators at the same synthetic scale: the inverted
      // index + BM25 read (dominant cost = the 60M-posting-row build),
      // DSIR importance scoring (two full bigram scans), the two-phase
      // token sharder, k-means training on the synthetic embeddings,
      // and SemDeDup keep-first on a 2% slice (k must grow with N for
      // the full corpus — the slice keeps per-cluster pair counts at
      // the bounded size real SemDeDup maintains via k ≈ N/10⁴)
      lazy val queryTerms = docs.filter(col("doc_id") === 0)
        .select(split(col("text"), " ")).collect()(0)
        .getSeq[String](0).take(3)
      val bm25Hits = timedL("bm25_rank") {
        graft.operators.TrainPrep.bm25Rank(docs, queryTerms, 10).count()
      }
      val shardCount = timedL("token_shards") {
        graft.operators.TrainPrep.tokenBalancedShards(docs, 64)
          .select(col("shard")).distinct().count()
      }
      val dsirDocs = timedL("dsir_score") {
        val w = graft.operators.Dsir.importanceWeights(
          docs, docs.filter(col("doc_id") % 101 === 0))
        graft.operators.Dsir.scoreWithWeights(docs,
          graft.operators.Dsir.weightsMap(w)).count()
      }
      val emb2 = emb.select(col("vec_id").as("id"),
        col("embedding").cast("array<double>").as("v"))
      val kmeansN = timedL("kmeans_k8_i2") {
        graft.operators.KMeansCluster.lloyd(emb2, k = 8, iters = 2).count()
      }
      val semKept = timedL("semdedup_2pct") {
        // renumber the sliced ids densely so lloyd's id<k seed read
        // finds k seeds (ids stay 0,50,100,… otherwise — only id 0
        // would qualify and the whole slice degenerates to 1 cluster,
        // turning keepFirst's per-cluster join quadratic)
        val slice = emb2.filter(col("id") % 50 === 0)
          .select((col("id") / 50).cast("long").as("id"), col("v"))
        val assigned = graft.operators.KMeansCluster.lloyd(slice, 8, 2)
        graft.operators.SemDedup.keepFirst(assigned, 14500000000L)
          .filter(col("kept")).count()
      }
      // round-5-final operators: map-only signed projection + its LSH
      // bucket census, hybrid RRF fusion (BM25 top-50 over the corpus
      // ∪ cosine top-50 over the synthetic embeddings), and
      // contrastive pair mining with synthetic labels
      val rpBuckets = timedL("projected_lsh") {
        graft.operators.RandomProjection.packSignBuckets(
            graft.operators.RandomProjection
              .projectFpInline(emb2, dims = 16, outDims = 8))
          .groupBy(col("bucket")).count().count()
      }
      val fusedHits = timedL("rrf_fusion") {
        val lex = graft.operators.Fusion.rankOf(
          graft.operators.TrainPrep.bm25Rank(docs, queryTerms, 50),
          "score_fp")
        val sem = graft.operators.Similarity
          .cosineTopKFast(emb2, emb2.filter(col("id") === 0), 50)
          .select(col("vec_id").as("doc_id"),
            col("rnk").cast("long").as("rank"))
        graft.operators.Fusion.rrf(Seq(lex, sem), 60, 20).count()
      }
      val minedPairs = timedL("mine_pairs") {
        val lab = emb2.withColumn("label", pmod(col("id"), lit(10L)))
        graft.operators.Similarity
          .minePairs(lab, lab.filter(col("id") < 4), 3).count()
      }
      // r13 (r12 verdict #10): the flat trio re-verified at decade
      // scale. Their r12 rewrites reduce SCANS, which the page cache
      // hides at sf0.1 (5000 docs); here the saved passes are real
      // bytes. Each pair runs NEW then OLD in the same JVM — quote
      // both; q89's pair contrasts the r12 checkpoint fix against the
      // un-checkpointed double-evaluation the sampler forces.
      val srcDocs0 = if (want("incr_kmv_1pass", "incr_kmv_2scan"))
        docs.withColumn("source",
          concat(lit("src"), pmod(col("doc_id"), lit(8L)))) else null
      def kmvSketchOf(part: DataFrame, keys: Seq[String] = Seq("source")) =
        part.select(keys.map(col) :+
            explode(graft.operators.Dedup.charShingles(col("text"), 5))
              .as("sh"): _*)
          .select(keys.map(col) :+
            graft.operators.KmvSketch.hash32(col("sh")).as("h"): _*)
      val kmvNew = timedL("incr_kmv_1pass") {
        // q191's r12 single-pass shape: one scan, (source, is-delta)
        // routing inside the aggregate
        kmvSketchOf(srcDocs0.withColumn("isd", col("doc_id") % 10 === 0),
            Seq("source", "isd"))
          .groupBy(col("source"), col("isd"))
          .agg(graft.operators.KmvSketch.lowestK(col("h"), 64).as("kmv"))
          .groupBy(col("source"))
          .agg(first(when(!col("isd"), col("kmv")), ignoreNulls = true)
            .as("ka"),
            first(when(col("isd"), col("kmv")), ignoreNulls = true)
              .as("kb"))
          .select(col("source"), size(slice(array_sort(array_union(
            coalesce(col("ka"), array().cast("array<bigint>")),
            coalesce(col("kb"), array().cast("array<bigint>")))),
            1, 64)).cast("long").as("fill"))
          .count()
      }
      val kmvOld = timedL("incr_kmv_2scan") {
        // the r11 two-sketchOf-legs shape: each leg re-scans and
        // re-explodes the corpus to keep its half
        def leg(part: DataFrame) = kmvSketchOf(part)
          .groupBy(col("source"))
          .agg(graft.operators.KmvSketch.lowestK(col("h"), 64).as("kmv"))
        leg(srcDocs0.filter(col("doc_id") % 10 =!= 0))
          .select(col("source"), col("kmv").as("ka"))
          .join(leg(srcDocs0.filter(col("doc_id") % 10 === 0))
            .select(col("source"), col("kmv").as("kb")),
            Seq("source"), "full")
          .select(col("source"), size(slice(array_sort(array_union(
            coalesce(col("ka"), array().cast("array<bigint>")),
            coalesce(col("kb"), array().cast("array<bigint>")))),
            1, 64)).cast("long").as("fill"))
          .count()
      }
      // q149's pair: rank+snippet residue over a STORED posting pair
      // (the r12 read path) vs the full per-invocation re-tokenize.
      // The index build is timed separately — it is the once-per-
      // corpus-version cost the stored path amortizes away.
      val snipWanted = want("snippet_index_build", "search_snippets_stored")
      val (snipPost, snipLens) = if (snipWanted) {
        def build() = (
          graft.operators.TrainPrep.termDocs(docs).localCheckpoint(),
          docs.select(col("doc_id"),
            graft.operators.TextAnalysis.tokenCount(col("text"))
              .cast("long").as("dl")).localCheckpoint())
        if (want("snippet_index_build")) {
          var r: (DataFrame, DataFrame) = null
          timedL("snippet_index_build") {
            r = build(); r._1.count() + r._2.count()
          }
          r
        } else build()
      } else (null, null)
      val snipNew = timedL("search_snippets_stored") {
        graft.operators.Fusion.snippets(docs,
          graft.operators.Fusion.rankOf(
            graft.operators.TrainPrep.bm25RankFromPair(
              snipPost, snipLens, queryTerms, 5), "score_fp"),
          queryTerms, width = 10).count()
      }
      val snipOld = timedL("search_snippets_retokenize") {
        graft.operators.Fusion.snippets(docs,
          graft.operators.Fusion.rankOf(
            graft.operators.TrainPrep.bm25Rank(docs, queryTerms, 5),
            "score_fp"),
          queryTerms, width = 10).count()
      }
      val repN = timedL("longest_repeat_2pct") {
        graft.operators.SuffixArray.longestRepeatPerDocDirect(
          docs.filter(col("doc_id") % 50 === 0), "doc_id", "text",
          maxLen = 16).count()
      }
      // analytics layer (q138-q143 kernels) at the same synthetic
      // scale. Events: n rows over n/1000 users spread across ~90 days
      // by a Knuth multiplicative hash — sessions stay bounded, every
      // user partition holds ~1000 events.
      val evWanted = want("session_paths", "transitions", "attribution",
        "rate_anomaly")
      val ev: DataFrame = if (evWanted) spark.range(n).select(
        col("id").as("event_id"),
        pmod(col("id"), lit(math.max(1L, n / 1000))).as("user_id"),
        element_at(
          array(lit("view"), lit("click"), lit("purchase"),
            lit("signup"), lit("error")),
          (pmod(col("id"), lit(5L)) + 1).cast("int")).as("event_type"),
        pmod(col("id") * 2654435761L, lit(7776000000L)).as("ms"),
        (pmod(col("id"), lit(10000L)).cast("double") / 100.0).as("value"))
        .localCheckpoint() else null
      val pathRows = timedL("session_paths") {
        graft.operators.EventAnalytics
          .sessionPaths(ev, 1800000L, 8, 20).count()
      }
      val transRows = timedL("transitions") {
        graft.operators.EventAnalytics
          .transitionCensus(ev, 1800000L).count()
      }
      val attrRows = timedL("attribution") {
        graft.operators.EventAnalytics.lastTouchAttribution(
          ev, Seq("view", "click"), "purchase", 604800000L).count()
      }
      val anomRows = timedL("rate_anomaly") {
        graft.operators.EventAnalytics.rateAnomalies(ev).count()
      }
      // gopher census (scan-fused array rules) + source TVD over the
      // OPEN md5 vocabulary (~60 distinct terms per doc — the case the
      // closed-form missing-mass rewrite exists for: no vocab-sized
      // broadcast, one term-keyed shuffle join)
      val gopherKept = timedL("gopher_census") {
        val flags = graft.operators.TextAnalysis
          .gopherFlags(col("text"), 20, 80)
        docs.select(flags.map { case (nm, c) =>
            when(c, 1L).otherwise(0L).as(nm) }: _*)
          .agg(sum(col("r_wordcount") * col("r_meanwordlen") *
            col("r_stopwords") * col("r_repetition")).as("k"))
          .collect()(0).getLong(0)
      }
      val tvdRows = timedL("source_tvd_openvocab") {
        graft.operators.CorpusStats.sourceUnigramTvd(
          docs.withColumn("source",
            pmod(col("doc_id"), lit(20L)).cast("string"))).count()
      }
      if (ev != null) ev.unpersist()
      acc.append(f""""path_rows":$pathRows,"trans_rows":$transRows,""" +
        f""""attr_rows":$attrRows,"anom_rows":$anomRows,""" +
        f""""gopher_kept":$gopherKept,"tvd_rows":$tvdRows,""")
      acc.append(f""""bm25_hits":$bm25Hits,"shards":$shardCount,""" +
        f""""dsir_docs":$dsirDocs,"kmeans_rows":$kmeansN,""" +
        f""""semdedup_kept":$semKept,"rp_buckets":$rpBuckets,""" +
        f""""fused_hits":$fusedHits,"mined_pairs":$minedPairs,""")
      acc.append(f""""n_docs":$n,"dup_groups":$dupGroups,"star_edges":$edges,""" +
        f""""components":$comps,"chunk_groups":$chunkKept,""" +
        f""""bloom_confirmed":$bloomConfirmed,"boiler_docs":$boiler,""" +
        f""""boiler_rebuilt_docs":$boilerRebuilt,""" +
        f""""dup_span_docs":$spans,"dup_span_docs_sharded":$spansSharded,""" +
        f""""sa_positions":$saRows,"rebuilt_docs":$rebuilt,""" +
        f""""cdc_distinct_chunks":$cdcDistinct,""" +
        f""""lpa_communities":$lpaComms,""" +
        f""""audit_rows":$audited,"emb_bits":$bits,"neardup_pairs":$pairs,""" +
        f""""inc_pairs":$incPairs,"pq_rows":$pqCodes,""" +
        f""""winnow_docs":$winnowDocs,""" +
        f""""gram_sat_rows":$gramSat,"cur_pack_rows":$curPack,""" +
        f""""winnow_pairs":$winnowPairs,"aging_novel":$agingNovel,""" +
        f""""cap_sum":$capSum,""" +
        f""""bpe_rounds":$bpeRounds,"nb_scored":$nbScored}""")
      println(acc.toString)
    } finally spark.stop()
  }
}
