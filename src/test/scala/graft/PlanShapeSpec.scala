package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Similarity}

/** Physical-plan shape guards: the scale claims in SCALE.md asserted
  * against `executedPlan`, so a refactor that silently reintroduces a
  * shuffle or drops a broadcast fails CI, not the next 100 TB run. */
class PlanShapeSpec extends SparkSpec {
  import spark.implicits._

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def exchanges(p: String): Int =
    "Exchange".r.findAllIn(p).length

  test("q25 fingerprint is map-only: one exchange (final sort), no aggregate") {
    val p = planOf(Queries.all("q25_fingerprint")(spark, sf()))
    assert(exchanges(p) == 1, s"expected only the orderBy exchange:\n$p")
    assert(!p.contains("HashAggregate"), s"unexpected aggregate:\n$p")
  }

  test("narrow band keys shuffle nothing") {
    val p = planOf(Dedup.lshBandKeysNarrow(
      Tables.documents(spark, sf()), "doc_id", "text", 5, 8, 2))
    assert(exchanges(p) == 0, s"narrow path must be shuffle-free:\n$p")
  }

  test("narrow band keys run the md5 kernel once per family, not per hash") {
    // k=8 minhashes need only k/4=2 md5-per-shingle transforms (4 hex
    // slices each) plus `bands`=2 per-doc band-key md5s. If
    // CollapseProject ever inlines the family arrays into each h(j)
    // (the regression ScaleBench measured as 4x wall time at 1M docs),
    // the optimized plan grows to k+bands md5 nodes and this fails.
    import org.apache.spark.sql.catalyst.expressions.Md5
    import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
    def countMd5(p: LogicalPlan): Int =
      p.expressions.map(_.collect { case m: Md5 => m }.size).sum +
        p.children.map(countMd5).sum
    val df = Dedup.lshBandKeysNarrow(
      Tables.documents(spark, sf()), "doc_id", "text", 5, 8, 2)
    val n = countMd5(df.queryExecution.optimizedPlan)
    assert(n <= 8 / 4 + 2, s"md5 kernel duplicated: $n nodes in plan")
  }

  test("decimal IVF assignment broadcasts the centroids") {
    val e = Tables.embeddings(spark, sf()).select(col("vec_id").as("id"),
      Similarity.asDouble(col("embedding")).as("v"))
    val cents = e.filter(col("id") % 97 === 0)
      .select((col("id") / 97).cast("long").as("cid"), col("v").as("cv"))
    val p = planOf(Similarity.assignL2Decimal(e, cents))
    assert(p.contains("BroadcastExchange") ||
      p.contains("BroadcastNestedLoopJoin"),
      s"centroids must broadcast, probe side must not shuffle:\n$p")
  }

  test("exact dedup shuffles hashes, never text") {
    // the shuffle key is md5(text); the text column must be projected
    // away before the exchange (verified: no 'text' in the agg output)
    val df = Queries.all("q16_dedup_exact")(spark, sf())
    val p = planOf(df)
    assert(p.contains("HashAggregate"))
    assert(!df.columns.contains("text"))
  }

  test("chunk dedup shuffles chunk hashes, never chunk text") {
    // q60's window partitions by ch (md5); the chunk strings live and
    // die inside the scan stage projection
    val p = planOf(Queries.all("q60_chunk_dedup")(spark, sf()))
    val exchangeLines = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchangeLines.nonEmpty)
    assert(exchangeLines.forall(l => !l.contains("text#") && !l.contains("col#")),
      s"chunk/document text in a shuffle key:\n$p")
  }

  test("snapshot diff reduces to (key, hash) before the join") {
    val o = Tables.orders(spark, sf())
    val p = planOf(graft.operators.SnapshotDiff.diff(
      o, o, Seq("o_orderkey"),
      Seq("o_custkey", "o_orderstatus", "o_orderpriority", "o_totalprice")))
    assert(p.contains("FullOuter"), p)
    // compared columns must not survive into the join output
    val joinLines = p.linesIterator.filter(l =>
      l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin")).toSeq
    assert(joinLines.nonEmpty, p)
    assert(joinLines.forall(l => !l.contains("o_orderstatus#")),
      s"compared column crossed the join instead of its hash:\n$p")
  }

  test("heavy-hitters partial sketches build map-side (partial aggregate)") {
    val df = Tables.documents(spark, sf())
      .select(explode(split(col("text"), " ")).as("tok"))
      .agg(graft.operators.HeavyHitters.sketch(col("tok"), 64).as("sk"))
    val p = planOf(df)
    // ObjectHashAggregate partial/final pair with a single-partition
    // exchange between: only capacity-bounded maps cross it
    assert(p.contains("ObjectHashAggregate"), p)
    assert(exchanges(p) == 1, s"expected one exchange of partial sketches:\n$p")
  }

  test("q73 profile: one pruned scan per exact NDV, no Expand") {
    // the r12 shape: base scan (counts/nulls/min/max) + one
    // COLUMN-PRUNED scan per column's exact distinct, each a
    // two-level hash agg. The old single-pass 6-distinct form planned
    // Expand ×7 into a 7-key SortAggregate (string min/max buffers
    // force sort) — the whole table replicated and sorted, the
    // r11-flagged tail cost
    val p = planOf(Queries.all("q73_profile")(spark, sf()))
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans == 7, s"expected 7 pruned scans, got $scans:\n$p")
    assert(!p.contains("Expand"), s"exact profile must not Expand:\n$p")
  }

  test("q67 t-digest partials cross the exchange as bounded buffers") {
    // typed Aggregator => ObjectHashAggregate partial/final pair;
    // only compressed centroid vectors move between them
    val p = planOf(Queries.all("q67_quantile_sketch")(spark, sf()))
    assert(p.contains("ObjectHashAggregate"), p)
  }

  test("dup-span grams are hashed before every exchange") {
    // q75's stage 1: text must die in the scan-side projection; every
    // exchange carries md5 hashes, positions, or doc ids only
    val p = planOf(graft.operators.DupSpans.dupPositions(
      Tables.documents(spark, sf()), "doc_id", "text", 20, 2))
    val exchangeLines = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchangeLines.nonEmpty)
    assert(exchangeLines.forall(!_.contains("text#")),
      s"document text in a shuffle key:\n$p")
  }

  test("funnel filters each step's events before its shuffle") {
    // q74: only a step's own (u, ms) rows move; the event-type column
    // is consumed by the pre-shuffle filter
    val p = planOf(Queries.all("q74_funnel")(spark, sf()))
    val exchangeLines = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchangeLines.nonEmpty)
    assert(exchangeLines.forall(l =>
      !l.contains("et#") && !l.contains("event_type#")),
      s"unfiltered event types in a shuffle:\n$p")
  }

  test("scd2 lookup shuffles on the key only; the interval test is a post-join filter") {
    // q85: no range-join explosion — an equi-join on user_id with the
    // [vfrom, vto) predicate applied after; no cartesian/broadcast-NL
    val p = planOf(Queries.all("q85_scd2_lookup")(spark, sf()))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"interval predicate degraded the join:\n$p")
  }

  test("record linkage blocks via an equi-join, never a cross join") {
    val p = planOf(Queries.all("q80_record_linkage")(spark, sf()))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"blocking key lost:\n$p")
  }

  test("ndv sketch partials cross the exchange as bounded bitmaps") {
    val p = planOf(Queries.all("q84_ndv_sketch")(spark, sf()))
    assert(p.contains("ObjectHashAggregate"), p)
  }

  test("cosine near-dup pairs join on the sign bucket, never a cross join") {
    val p = planOf(Queries.all("q34_cosine_neardup")(spark, sf()))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"bucket equi-join degraded:\n$p")
  }

  test("exact dup spans: corpus-wide gram stage shuffles hashes, not text") {
    // stage 1 (every position of every doc) must move 16-byte md5s;
    // full document text may cross an exchange only once — the
    // doc-keyed rejoin that re-extracts candidate grams for the exact
    // text confirm (candidate-bounded, not corpus-bounded)
    val p = planOf(graft.operators.ExactSubstring.dupSpans(
      Tables.documents(spark, sf()), "doc_id", "text", 20))
    val textExchanges = p.linesIterator
      .filter(l => l.contains("Exchange") && l.contains("_text#")).size
    assert(textExchanges <= 1,
      s"document text in more than the confirm-rejoin exchange:\n$p")
  }

  test("incremental SCD2 windows only the changed slice") {
    // applyChanges' contract: unchanged keys pass through an anti
    // join; exactly ONE Window node exists (the changed-keys rebuild)
    // — a second would mean the stored dimension is being re-windowed.
    // The stored table is checkpointed first so its own build window
    // (q90 constructs it inline) doesn't appear in the maintained plan.
    import org.apache.spark.sql.functions.unix_millis
    val upd = Tables.events(spark, sf())
      .filter(col("event_type") === "signup")
      .select(col("user_id"), col("value"),
        unix_millis(col("ts")).as("ms"), col("event_id"))
    val base = graft.operators.Scd2
      .versions(upd.filter(col("event_id") % 2 === 0),
        "user_id", "ms", "event_id", Seq("value"), keepTie = true)
      .localCheckpoint()
    val p = planOf(graft.operators.Scd2.applyChanges(base,
      upd.filter(col("event_id") % 2 === 1),
      "user_id", "ms", "event_id", Seq("value")))
    val windows = "Window".r.findAllIn(p).length
    assert(windows == 1, s"expected exactly one Window (rebuild only):\n$p")
  }

  test("curation gram stage hashes n-grams before the first exchange") {
    // every Exchange in the boilerplate pipeline must carry gh (16-byte
    // md5) or doc ids — never the gram text g or the document text
    val p = planOf(graft.operators.Curation.boilerplateDocs(
      Tables.documents(spark, sf()), "doc_id", "text", 8, 3))
    val exchangeLines = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchangeLines.nonEmpty)
    assert(exchangeLines.forall(l => !l.contains("g#") && !l.contains("text#")),
      s"gram/document text in a shuffle key:\n$p")
  }

  test("bm25 ranks via TakeOrdered and broadcasts the df/stat tables") {
    val p = planOf(Queries.all("q114_bm25_rank")(spark, sf()))
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k must never be a global sort:\n$p")
    assert(p.contains("BroadcastExchange"),
      s"df/corpus stats must broadcast:\n$p")
  }

  test("per-doc tf-idf keywords plan has NO Window") {
    // the corpus-sized group count is exactly why q116 uses the
    // grouped top-k aggregator; a window sneaking back in would sort
    // every doc group in one task
    val p = planOf(Queries.all("q116_tfidf_keywords")(spark, sf()))
    assert(!p.contains("Window"), s"window reintroduced:\n$p")
  }

  test("semdedup pairs join on the cluster id, never a cross join") {
    val assigned = spark.range(100).select(col("id"),
      (col("id") % 4).cast("int").as("cluster"),
      array(col("id").cast("double")).as("v"))
    val p = planOf(graft.operators.SemDedup.keepFirst(assigned, 100L))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoop"),
      s"pair generation must stay an equi-join on cluster:\n$p")
  }

  test("dsir scoring is a per-row map: no exchange, no join, no cartesian") {
    // pins the INLINE operator shape (q118's query path reads the
    // eager SharedDsir.scored artifact, whose plan is a bare
    // Scan ExistingRDD — asserting on it is vacuous). The ≤256-entry
    // weight table rides in as a 256-slot array literal, so scoring the corpus
    // moves no rows between tasks.
    val docs = Tables.documents(spark, sf())
    val target = docs.filter(col("text").contains("spark"))
    val p = planOf(graft.operators.Dsir.scoreWithWeights(docs,
      graft.operators.Dsir.weightsMap(
        graft.operators.Dsir.importanceWeights(docs, target))))
    assert(exchanges(p) == 0, s"scoring must not shuffle:\n$p")
    assert(!p.contains("Join") && !p.contains("CartesianProduct"),
      s"scoring must not join:\n$p")
  }

  test("rrf fusion never touches the corpus in the fuse stage: no cartesian, top-k via TakeOrdered") {
    val p = planOf(Queries.all("q122_rrf_fusion")(spark, sf()))
    assert(!p.contains("CartesianProduct"),
      s"fusion must join bounded top-Ns only:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"fused top-k must never be a global sort:\n$p")
  }

  test("fielded bm25 keeps the plain kernel's shape: TakeOrdered + broadcasts") {
    val p = planOf(Queries.all("q123_bm25_fielded")(spark, sf()))
    assert(p.contains("TakeOrderedAndProject"), s"top-k via sort:\n$p")
    assert(p.contains("BroadcastExchange"),
      s"df/corpus stats must broadcast:\n$p")
  }

  test("source-overlap joins on the term, never a cross join") {
    val p = planOf(Queries.all("q125_source_overlap")(spark, sf()))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoop"),
      s"pairwise overlap must stay a term equi-join:\n$p")
  }

  test("gopher census is one pass: single scan, no shuffle before the 1-row agg") {
    val p = planOf(Queries.all("q138_gopher_rules")(spark, sf()))
    assert("FileScan".r.findAllIn(p).length == 1, s"one scan only:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      s"per-row rules must not join:\n$p")
  }

  test("source TVD is a term equi-join; only the source census broadcasts") {
    val p = planOf(Queries.all("q139_source_divergence")(spark, sf()))
    assert(p.contains("BroadcastExchange"),
      s"the |sources| census and 1-row total must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"no sources x vocab grid — missing-term mass is closed-form:\n$p")
  }

  test("session paths cap state before the collect and top-k via TakeOrdered") {
    val p = planOf(Queries.all("q140_session_paths")(spark, sf()))
    assert(p.contains("TakeOrderedAndProject"),
      s"top-20 paths must never be a global sort:\n$p")
  }

  test("attribution is window-only: no self-join of events") {
    val p = planOf(Queries.all("q142_attribution")(spark, sf()))
    assert(!p.contains("Join"),
      s"last-touch must be a running-max window, not a pair join:\n$p")
  }

  test("shipping priority broadcasts the filtered dims, top-10 via TakeOrdered") {
    val p = planOf(Queries.all("q151_shipping_priority")(spark, sf()))
    assert(p.contains("BroadcastHashJoin"),
      s"filtered customer/orders dims must broadcast into the fact join:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-10 revenue must never be a global sort:\n$p")
    assert(p.contains("PushedFilters"),
      s"segment/date filters must reach the scans:\n$p")
  }

  test("large orders: the HAVING set computes on lineitem alone, top-10 via TakeOrdered") {
    val p = planOf(Queries.all("q153_large_orders")(spark, sf()))
    assert(p.contains("TakeOrderedAndProject"), s"top-10 via sort:\n$p")
    assert(!p.contains("CartesianProduct"), s"equi-joins only:\n$p")
  }

  test("chunk rebuild: keep-first decisions shuffle hashes, never text") {
    // q167's window partitions by md5(chunk); chunk and document text
    // must stay inside scan-stage projections (the SCALE.md claim)
    val p = planOf(Queries.all("q167_chunk_dedup_rebuild")(spark, sf()))
    val exchangeLines = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchangeLines.nonEmpty)
    assert(exchangeLines.forall(l =>
      !l.contains("txt#") && !l.contains("_text#") && !l.contains("col#")),
      s"chunk/document text in a shuffle key:\n$p")
  }

  test("reshard census is map-only scan work: no join, no window") {
    val p = planOf(Queries.all("q170_reshard_movement")(spark, sf()))
    assert(!p.contains("Join"), s"per-row md5 argmax must not join:\n$p")
    assert(!p.contains("Window"), s"no window expected:\n$p")
  }

  test("embedding hygiene: per-vector fold stays in the scan, census-only shuffle") {
    val p = planOf(Queries.all("q178_embedding_hygiene")(spark, sf()))
    assert(!p.contains("Join"), s"map-only before the label census:\n$p")
    assert(!p.contains("Generate"),
      s"the norm fold must not explode the vector:\n$p")
  }

  test("cdc chunking: one-pass cut expression, no join, no HOF hot path, no text in exchanges") {
    // Boundary detection must be the single-pass CdcCutsExpr: the
    // interpreted filter(sequence(...)) formulation measured 11 s at
    // sf0.1 (the q172-class HOF trap), and the exploded
    // md5-per-position rewrite still paid 11.5 s plus a cut-collect
    // groupBy and doc re-join. With cuts per-row there is NO join
    // anywhere in the plan and no per-position hash in any lambda.
    import org.apache.spark.sql.catalyst.expressions.{HigherOrderFunction, Md5}
    import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
    val df = Queries.all("q188_cdc_chunking")(spark, sf())
    def nodes(p: LogicalPlan): Seq[LogicalPlan] =
      p +: p.children.flatMap(nodes)
    val hofWithMd5 = nodes(df.queryExecution.optimizedPlan)
      .flatMap(_.expressions)
      .flatMap(_.collect { case h: HigherOrderFunction => h })
      .filter(_.collect { case m: Md5 => m }.nonEmpty)
    assert(hofWithMd5.isEmpty,
      s"md5 inside an interpreted HOF lambda:\n${hofWithMd5.mkString("\n")}")
    val p = planOf(df)
    assert(p.contains("cdc_cuts"),
      s"expected the native CdcCutsExpr boundary pass:\n$p")
    assert(!p.contains("Join"),
      s"cuts are per-row now — no join belongs in this plan:\n$p")
    val exchangeLines = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchangeLines.forall(l => !l.contains("text#")),
      s"text in a shuffle:\n$p")
  }

  test("dup-length profile and mixture shift never shuffle text") {
    for (q <- Seq("q185_dup_length_profile", "q189_dedup_mixture_shift")) {
      val p = planOf(Queries.all(q)(spark, sf()))
      val exchangeLines = p.linesIterator
        .filter(_.contains("Exchange")).toSeq
      assert(exchangeLines.nonEmpty, s"$q expected exchanges:\n$p")
      assert(exchangeLines.forall(l => !l.contains("text#")),
        s"$q ships text through an exchange:\n$p")
    }
  }

  test("minhash calibration: exact side is relational — no per-pair HOF kernel") {
    // The r6 regression this pins: the exact-Jaccard side recomputed
    // both docs' full shingle arrays per candidate PAIR in an
    // interpreted array_intersect/transform projection (13.5 s at
    // sf0.1). The relational shape does per-doc work once (an explode
    // under Generate is fine) and counts intersections with a
    // codegen'd hash aggregate — so no ArrayIntersect anywhere, and
    // no higher-order function outside a Generate's own generator.
    import org.apache.spark.sql.catalyst.expressions.{ArrayIntersect, HigherOrderFunction}
    import org.apache.spark.sql.catalyst.plans.logical.{Generate, LogicalPlan}
    val df = Queries.all("q172_minhash_calibration")(spark, sf())
    def nodes(p: LogicalPlan): Seq[LogicalPlan] =
      p +: p.children.flatMap(nodes)
    val all = nodes(df.queryExecution.optimizedPlan)
    assert(!all.exists(_.expressions.exists(
      _.collect { case a: ArrayIntersect => a }.nonEmpty)),
      "per-pair array_intersect kernel is back")
    val hofOutsideGenerate = all.filter {
      case _: Generate => false
      case p => p.expressions.exists(
        _.collect { case h: HigherOrderFunction => h }.nonEmpty)
    }
    assert(hofOutsideGenerate.isEmpty,
      s"interpreted HOF outside Generate:\n${hofOutsideGenerate.mkString("\n")}")
  }

  test("boilerplate removal: only gram hashes and positions shuffle, never text") {
    // q196's rewrite discipline (q164/q167's): 8-grams shuffle as md5
    // hashes, covered positions as (doc_id, int) pairs, and the final
    // splice reads document text map-side (covered-position side is
    // the build side) — so no exchange line may reference the text
    // column, including the output sort (which carries the rebuilt
    // text only as its md5 pin).
    val p = planOf(Queries.all("q196_boilerplate_removal")(spark, sf()))
    val exchangeLines = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchangeLines.nonEmpty, s"expected exchanges:\n$p")
    assert(exchangeLines.forall(l =>
      !l.contains("text#") && !l.contains("txt#") && !l.contains(" g#")),
      s"text or raw gram in a shuffle:\n$p")
  }

  test("jsonl export: serialization and hashing stay map-side, no line in exchanges") {
    // q211's pin: the serialized JSON line must be consumed by the
    // length/md5 projections inside the scan stage — only (shard,
    // partial sums) may shuffle. A `line#` in an exchange means a
    // data-sized string started moving.
    val p = planOf(Queries.all("q211_jsonl_export")(spark, sf()))
    assert(!p.contains("Join"), s"map-only before the shard census:\n$p")
    val exchangeLines = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchangeLines.forall(l => !l.contains("line#")),
      s"serialized line in a shuffle:\n$p")
  }

  test("exact-median family: no one-task-per-group window sort") {
    // q39/q147/q177/q194 rank via GroupedRank's two-phase range scan;
    // the only window allowed in their plans is the kernel's own,
    // partitioned by (bucket, group). A window whose partition spec is
    // a SINGLE expression is the regression this pins: one task per
    // group — a guaranteed straggler for low-cardinality groups at
    // scale (the r7 VERDICT's finding #2).
    import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Window => LWindow}
    for (q <- Seq("q39_median_disc", "q147_conversion_latency",
        "q177_quality_percentiles", "q194_length_outliers")) {
      val df = Queries.all(q)(spark, sf())
      def nodes(p: LogicalPlan): Seq[LogicalPlan] =
        p +: p.children.flatMap(nodes)
      val wins = nodes(df.queryExecution.optimizedPlan)
        .collect { case w: LWindow => w }
      assert(wins.nonEmpty, s"$q: expected the kernel's rank window")
      for (w <- wins)
        assert(w.partitionSpec.size >= 2,
          s"$q: single-partition-per-group window sort is back:\n$w")
    }
  }

  test("alpha mixture: census first, bounded scalars broadcast") {
    // q207 reads the corpus exactly once (the lang census); the token
    // total and the sqrt-mass sum ride broadcast one-row frames — a
    // SortMergeJoin here would mean a data-sized frame reached the
    // scalar join.
    val p = planOf(Queries.all("q207_alpha_mixture")(spark, sf()))
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"), s"scalars must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"unexpected data-sized join:\n$p")
  }

  test("quality classifier: tokens shuffle as md5 keys, never raw, text never") {
    // q205's training agg and the doc-distinct scoring relation both
    // key on md5(tok); the raw token column and document text must be
    // projected out before every exchange.
    val p = planOf(Queries.all("q205_quality_classifier")(spark, sf()))
    val exchangeLines = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchangeLines.nonEmpty, s"expected exchanges:\n$p")
    assert(exchangeLines.forall(l =>
      !l.contains("text#") && !l.contains("txt#") && !l.contains("tok#")),
      s"raw token or text in a shuffle:\n$p")
  }

  test("round-8 prefix-sum family: no one-task-per-stream window sort") {
    // q216/q217/q218 ride GroupedRank's two-phase kernel; the only
    // windows allowed are the kernel's own, partitioned by (bucket,
    // group) — the same pin as the exact-median family above.
    import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Window => LWindow}
    for (q <- Seq("q216_packing_waste", "q217_shard_balance",
        "q218_epoch_order")) {
      val df = Queries.all(q)(spark, sf())
      def nodes(p: LogicalPlan): Seq[LogicalPlan] =
        p +: p.children.flatMap(nodes)
      val wins = nodes(df.queryExecution.optimizedPlan)
        .collect { case w: LWindow => w }
      assert(wins.nonEmpty, s"$q: expected the kernel's window")
      for (w <- wins)
        assert(w.partitionSpec.size >= 2,
          s"$q: single-partition-per-stream window sort is back:\n$w")
    }
  }

  test("q217: serialized lines and text stay out of every exchange") {
    // bytes and fingerprints are computed in the scan stage; only
    // (source, k, nb, fp32) rows may shuffle into the prefix-sum
    // kernel, and only census rows after it.
    val p = planOf(Queries.all("q217_shard_balance")(spark, sf()))
    val exchangeLines = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchangeLines.nonEmpty, s"expected exchanges:\n$p")
    assert(exchangeLines.forall(l =>
      !l.contains("line#") && !l.contains("text#")),
      s"serialized line or text in a shuffle:\n$p")
  }

  test("q221/q222: every window is bucket-partitioned, text never shuffles") {
    // both ride the two-phase kernels (global withCumWeight: partition
    // by _b; grouped withRank: partition by (_b, group)) — every
    // window's partition spec must include the kernel's bucket column,
    // pinning out both a global Window.orderBy (one task for the whole
    // corpus) and a single-partition-per-group sort. Text is consumed
    // by the score/tokenCount projections map-side, so no exchange may
    // carry it.
    import org.apache.spark.sql.catalyst.expressions.NamedExpression
    import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Window => LWindow}
    for (q <- Seq("q221_curriculum_interleave",
        "q222_packing_contamination")) {
      val df = Queries.all(q)(spark, sf())
      def nodes(p: LogicalPlan): Seq[LogicalPlan] =
        p +: p.children.flatMap(nodes)
      val wins = nodes(df.queryExecution.optimizedPlan)
        .collect { case w: LWindow => w }
      assert(wins.nonEmpty, s"$q: expected the kernel's window")
      for (w <- wins)
        assert(w.partitionSpec.exists {
          case n: NamedExpression => n.name == "_b"
          case _ => false
        }, s"$q: window not bucket-partitioned — kernel bypassed:\n$w")
      val p = planOf(df)
      val exchangeLines = p.linesIterator.filter(_.contains("Exchange")).toSeq
      assert(exchangeLines.nonEmpty, s"$q: expected exchanges:\n$p")
      assert(exchangeLines.forall(l => !l.contains("text#")),
        s"$q: text in a shuffle:\n$p")
    }
  }

  test("q223: winnowing shuffles integer window rows, never gram strings") {
    // the 4× window fan-out explodes (doc, j, h) integer rows; the
    // word-4-gram string must be consumed by hash32 inside the scan
    // stage — a `col#`/`g#`/text reference in an exchange means
    // data-sized strings started moving through the fan-out.
    for (q <- Seq("q223_winnowing", "q226_winnow_screen",
        "q234_winnow_decontam", "q235_decontam_calibration")) {
      val p = planOf(Queries.all(q)(spark, sf()))
      val exchangeLines = p.linesIterator.filter(_.contains("Exchange")).toSeq
      assert(exchangeLines.nonEmpty, s"$q: expected exchanges:\n$p")
      assert(exchangeLines.forall(l =>
        !l.contains("text#") && !l.contains(" col#") && !l.contains(" g#") &&
          !l.contains(" gs#")),
        s"$q: raw gram or text in a shuffle:\n$p")
    }
  }

  test("q224: both batch orders ride the bucket-partitioned kernel") {
    import org.apache.spark.sql.catalyst.expressions.NamedExpression
    import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Window => LWindow}
    val df = Queries.all("q224_batch_padding")(spark, sf())
    def nodes(p: LogicalPlan): Seq[LogicalPlan] =
      p +: p.children.flatMap(nodes)
    val wins = nodes(df.queryExecution.optimizedPlan)
      .collect { case w: LWindow => w }
    assert(wins.nonEmpty, "expected the kernel's windows")
    for (w <- wins)
      assert(w.partitionSpec.exists {
        case n: NamedExpression => n.name == "_b"
        case _ => false
      }, s"window not bucket-partitioned — kernel bypassed:\n$w")
  }

  test("q103/q210/q232/q124: rank kernels only — no single-partition window") {
    // q103's tercile, q210's per-lang Spearman ranks, q232's
    // bucketed-padding ranks and q124's running-vocabulary prefix sum
    // ride the two-phase kernels (withCumWeight / GroupedRank
    // .withRank); every window's partition spec must include the
    // kernel's bucket column — a global Window.orderBy (the r8/r9
    // verdicts' weak items) or a per-group single-partition sort means
    // the kernel was bypassed.
    import org.apache.spark.sql.catalyst.expressions.NamedExpression
    import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Window => LWindow}
    for (q <- Seq("q103_ccnet_buckets", "q210_rank_correlation",
        "q232_bucketed_padding", "q124_vocab_growth")) {
      val df = Queries.all(q)(spark, sf())
      def nodes(p: LogicalPlan): Seq[LogicalPlan] =
        p +: p.children.flatMap(nodes)
      val wins = nodes(df.queryExecution.optimizedPlan)
        .collect { case w: LWindow => w }
      assert(wins.nonEmpty, s"$q: expected the kernel's window")
      for (w <- wins)
        assert(w.partitionSpec.exists {
          case n: NamedExpression => n.name == "_b"
          case _ => false
        }, s"$q: window not bucket-partitioned — kernel bypassed:\n$w")
    }
  }

  test("q234: screen/confirm legs shuffle-hash only — no data-dependent broadcast") {
    // cand/inter/census frames all scale with contamination rate ×
    // corpus size (the q199 r7 lesson): a BroadcastExchange anywhere
    // in this plan means AQE sized a data-dependent frame by INPUT
    // bytes and would pin output parallelism — or OOM — on a dirty
    // crawl. The one outer census join may sort-merge (|sources| rows).
    val p = planOf(Queries.all("q234_winnow_decontam")(spark, sf()))
    assert(!p.contains("BroadcastExchange") &&
      !p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"data-dependent frame broadcast or exploded:\n$p")
    assert(p.contains("ShuffledHashJoin"),
      s"screen/confirm equi-joins must build hash maps, not sort:\n$p")
  }

  test("q238: retention window keys per-component, pair legs never broadcast") {
    // the component-argmax window must partition by the coalesced
    // component key (a NULL key would pool every unclustered doc into
    // one task), and the pair/CC legs must not broadcast frames that
    // scale with duplication rate
    import org.apache.spark.sql.catalyst.expressions.NamedExpression
    import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Window => LWindow}
    val df = Queries.all("q238_winnow_dedup_savings")(spark, sf())
    def nodes(p: LogicalPlan): Seq[LogicalPlan] =
      p +: p.children.flatMap(nodes)
    val wins = nodes(df.queryExecution.optimizedPlan)
      .collect { case w: LWindow => w }
    assert(wins.nonEmpty, "expected the retention argmax window")
    for (w <- wins)
      assert(w.partitionSpec.exists {
        case n: NamedExpression => n.name == "ck"
        case _ => false
      }, s"retention window not component-partitioned:\n$w")
  }

  test("q239: group cumulative windows partition by the QI group") {
    // the ≤11-row global-distribution census is computed ONCE behind
    // a localCheckpoint (r10 verdict: its re-instantiation per
    // consumer spammed ~10 WindowExec warnings, drowning the
    // q124-class zero-warning signal) — so NO unpartitioned window
    // may remain in the final plan at all
    import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Window => LWindow}
    val df = Queries.all("q239_t_closeness")(spark, sf())
    def nodes(p: LogicalPlan): Seq[LogicalPlan] =
      p +: p.children.flatMap(nodes)
    val wins = nodes(df.queryExecution.optimizedPlan)
      .collect { case w: LWindow => w }
    val unpartitioned = wins.filter(_.partitionSpec.isEmpty)
    assert(unpartitioned.isEmpty,
      s"global census window escaped the checkpoint:\n$unpartitioned")
    val grouped = wins.filterNot(unpartitioned.contains)
    assert(grouped.nonEmpty, "expected the per-group cumulative")
    for (w <- grouped)
      assert(w.partitionSpec.size == 2,
        s"group cumulative must partition by (nat, seg):\n$w")
  }

  test("q240: triangle joins build hash maps; census never broadcasts pairs") {
    val p = planOf(Queries.all("q240_local_clustering")(spark, sf()))
    assert(p.contains("ShuffledHashJoin"),
      s"two-hop triangle joins must be shuffle-hash:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"pair frame exploded:\n$p")
  }

  test("q246/q247: component legs shuffle-hash, never broadcast") {
    // the winnow component map scales with duplication rate — a
    // data-dependent broadcast of it is the q199-class hazard; both
    // censuses must join it hash-keyed
    for (q <- Seq("q246_cross_source_dup_matrix",
        "q247_effective_dataset_size")) {
      val p = planOf(Queries.all(q)(spark, sf()))
      assert(p.contains("ShuffledHashJoin"),
        s"$q: component joins must be shuffle-hash:\n$p")
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"),
        s"$q: unexpected product join:\n$p")
    }
  }

  test("q219: grams shuffle as 16-byte hashes, never raw gram strings") {
    // the df/occ aggregation keys on unhex(md5(gram)); the space-joined
    // gram string must be consumed inside the scan stage.
    val p = planOf(Queries.all("q219_gram_saturation")(spark, sf()))
    assert(!p.contains("Join"), s"one-agg query grew a join:\n$p")
    val exchangeLines = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchangeLines.nonEmpty, s"expected exchanges:\n$p")
    assert(exchangeLines.forall(l =>
      !l.contains("g#") && !l.contains("text#")),
      s"raw gram or text in a shuffle:\n$p")
  }
}
