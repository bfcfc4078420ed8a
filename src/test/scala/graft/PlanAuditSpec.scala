package graft

import org.apache.spark.sql.functions.col

/** Plan-REGRESSION assertions: the bench numbers prove today's plans are
  * fast; these specs pin the plan SHAPES so a config drift (e.g.
  * autoBroadcastJoinThreshold, a lost broadcast hint, an accidental
  * cross join) fails a test instead of silently regressing a 100 TB run.
  * `graft.tools.Inspect --plan` dumps the same plans for eyeballing; this is the
  * automated version the r2 verdict asked for.
  */
class PlanAuditSpec extends SparkSpecBase {

  private def plan(name: String, dir: String = Sf001): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  private def nOcc(hay: String, needle: String): Int =
    needle.r.findAllMatchIn(hay).size

  test("q_tpch_q3: dim joins broadcast, no cartesian product, no extra scans") {
    val p = plan("q_tpch_q3")
    assert(p.contains("BroadcastHashJoin"), s"customer dim must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), "no cartesian product in a keyed join")
  }

  test("q_tpch_q5: every hinted dim broadcasts, no cartesian product") {
    val p = plan("q_tpch_q5")
    assert(nOcc(p, "BroadcastHashJoin") >= 3,
      s"supplier, nation and region carry broadcast hints — all three must be BHJ:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q_salted_join: salting adds no Exchange over the plain join") {
    import org.apache.spark.sql.functions._
    val dir = Sf001
    val salted = plan("q_salted_join", dir)
    val li = sources.Tables.lineitem(spark, dir)
      .select(col("l_suppkey").as("s_suppkey"), col("l_orderkey"),
        col("l_linenumber"), col("l_extendedprice"))
    val sup = sources.Tables.supplier(spark, dir).select(col("s_suppkey"), col("s_nationkey"))
    val plain = li.join(broadcast(sup), "s_suppkey")
      .groupBy(col("s_nationkey"))
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("n_lines"),
        (sum(round(col("l_extendedprice") * 100).cast("long")) / 100.0).as("revenue"))
      .queryExecution.executedPlan.toString
    assert(nOcc(salted, "Exchange") === nOcc(plain, "Exchange"),
      s"salted plan must not add exchanges.\nSALTED:\n$salted\nPLAIN:\n$plain")
    assert(salted.contains("BroadcastHashJoin"))
  }

  test("q_profile: ONE scan of lineitem no matter how many columns are profiled") {
    val p = plan("q_profile")
    val scans = nOcc(p, "(?i)scan parquet")
    assert(scans === 1, s"profiling must be a single pass, found $scans scans:\n$p")
  }

  test("runtime bloom filter prunes the q_tpch_q3 orders→lineitem edge under shuffle-join conditions") {
    // At sf0.01 both sides fit under the broadcast threshold, so Spark
    // (correctly) broadcasts and needs no runtime filter. At 100 TB the
    // fact-fact edge is a shuffle join and the selective orders filter
    // should seed a bloom filter on the lineitem scan. Recreate those
    // conditions: force shuffle joins and drop the application-side size
    // gate, then assert Spark 4's runtime bloom filter is injected AND
    // the result is row-identical to the broadcast plan's.
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
      .map(k => k -> conf.getOption(k)).toMap
    val expected = SparkEntry.queries("q_tpch_q3")(spark, Sf001).collect()
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "1024")
      val df = SparkEntry.queries("q_tpch_q3")(spark, Sf001)
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("might_contain") || p.contains("bloom_filter"),
        s"runtime bloom filter must be injected on the shuffle-join plan:\n$p")
      assert(df.collect() === expected,
        "bloom-pruned plan must return the identical rows")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None)    => conf.unset(k)
    }
  }

  test("q_range_join: binned plan is a hash join, never a nested-loop/cartesian") {
    val p = plan("q_range_join", "/root/testdata/sf0.001")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"range join must bin into an equi join:\n$p")
    assert(p.contains("Join") || p.contains("join"))
  }

  test("WHOLE SURFACE: no unintentional nested-loop joins, no cartesian products ever") {
    // the brute-force ANN scans (incl. PQ's compressed-domain ADC scan)
    // and TF-IDF's corpus-size constant are DELIBERATE broadcast nested
    // loops: the build side is a bounded tiny frame (query set / one
    // row), so the "quadratic" is k·N
    val intentional = Set(
      "q_ann_topk", "q_ann_ivf_recall", "q_ann_lsh_recall", "q_tfidf",
      "q_ann_pq", "q_ann_pq_recall",
      // ivfpq_recall and the ivf sweep embed the brute-force EXACT
      // baseline they measure against (the ivfpq search itself plans
      // with no quadratic join — deliberately absent from this list)
      "q_ann_ivfpq_recall", "q_ann_ivf_sweep", "q_ann_ivfpq_sweep",
      "q_ann_ivfpq_grid",
      // mix-temperature's denominator is a 1-row broadcast (ordered-fold
      // Σ√tokens over the source list — the q_tfidf scalar shape)
      "q_mix_temperature",
      // lm-quality's vocabulary size is a 1-row broadcast (the add-one
      // smoothing denominator constant — q_tfidf's corpus-size shape)
      "q_lm_quality",
      // Q22's global-average / Q11's nation-total thresholds and the
      // chi-square grand-total frame are 1-row broadcasts (the same
      // scalar-subquery shape as q_tfidf's corpus-size constant);
      // BM25's (n_docs, avgdl) corpus-stats frame is the same 1-row shape
      "q_tpch_q22", "q_tpch_q11", "q_chi_square", "q_bm25",
      // rank-transform's corpus-count and winsorize's global-bounds
      // frames: same 1-row broadcast shape
      "q_rank_transform", "q_winsorize",
      // substring-sweep fans the rare pair funnel across a |grid|-row
      // broadcast threshold frame (span ≥ min_len inequality) — k·pairs
      "q_substring_sweep",
      // hybrid-rrf: 1-row corpus stats + 5-row query-vector broadcast
      // (the q_tfidf scalar shape, twice); lsh-scurve: 19-row grid ×
      // 4-row config broadcast — constants, not data
      "q_hybrid_rrf", "q_lsh_scurve",
      // dsir: the (rtot, ttot) model-totals frame and the corpus-mean
      // selection threshold are both 1-row broadcasts (q_tfidf's
      // scalar shape); the per-doc scoring join is key-equi on bucket
      "q_dsir_weights",
      // token-budget: the 1-row budget scalar broadcasts into the
      // ≤10^4-row level frame; doc-side joins are key-equi on qm
      "q_token_budget",
      // maxsim: query-token frame broadcast against the corpus token
      // scan — the q_ann_pq shape (at scale the doc side is an ANN
      // shortlist; the cross join is queries×docs by design)
      "q_maxsim",
      // contrastive-pairs: exact top block (the q_ann_topk brute shape)
      // plus the 20-id query frame broadcast for the md5 random draw
      "q_contrastive_pairs",
      // weak-labels: the 1-row LF-weight frame broadcasts back over the
      // votes (the q_tfidf corpus-stats shape); component-label-prop
      // embeds the same label model upstream of its closure+vote
      "q_weak_labels", "q_component_labels",
      // retrieval-metrics: its qrels side embeds the brute-force exact
      // top-5 (the q_ann_lsh_recall shape); the metric join itself is
      // key-equi on (query, doc)
      "q_retrieval_metrics",
      // collocations: the 1-row token-total frame broadcasts onto the
      // scored pairs (q_tfidf's corpus-stats shape); both count joins
      // are key-equi on the word
      "q_collocations",
      // bpe-merges: each round's winning pair is a 1-row broadcast
      // crossJoined onto the docs for the merge rewrite (q_tfidf's
      // scalar shape, three unrolled rounds)
      "q_bpe_merges")
    val offenders = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      val p = SparkEntry.queries(name)(spark, Sf0001)
        .queryExecution.executedPlan.toString
      val bad = p.contains("CartesianProduct") ||
        (p.contains("BroadcastNestedLoopJoin") && !intentional(name))
      if (bad) Some(name) else None
    }
    assert(offenders.isEmpty,
      s"unintentional quadratic join in: $offenders")
  }

  test("text kernels run inside WholeStageCodegen (no interpreted-eval hot path)") {
    for (q <- Seq("q_text_quality", "q_lang_id", "q_fingerprint", "q_token_count")) {
      val p = plan(q, "/root/testdata/sf0.001")
      assert(p.contains("*("),
        s"$q must keep its scalar kernels in a codegen span:\n$p")
    }
  }

  test("window queries: exactly ONE exchange each (sort reused, no double shuffle)") {
    for (q <- Seq("q_range_frame", "q_scd2")) {
      val p = plan(q)
      assert(nOcc(p, "Exchange hashpartitioning") == 1,
        s"$q must shuffle once on its window key:\n$p")
    }
  }

  test("q_attribution: all three RANGE-frame aggregates plan into ONE Window operator") {
    // min/max-of-struct + count share one (user, us) frame — a second
    // Window (or exchange) would double the sort for no reason
    val p = plan("q_attribution")
    assert(nOcc(p, "Window") == 1, s"attribution must fuse its window aggs:\n$p")
    assert(nOcc(p, "Exchange hashpartitioning") == 1,
      s"attribution must shuffle once on user_id:\n$p")
  }

  test("q_interpolate: at most one Window operator per frame direction, no window re-sort") {
    // two frames (unbounded-preceding and unbounded-following) over the
    // same (user, day) partition/order: Catalyst plans at most one
    // Window per frame direction and the second must reuse the first's
    // sort — a third Window or a Sort between the two means the frames
    // didn't fuse
    val p = plan("q_interpolate")
    assert(nOcc(p, "Window") == 1,
      s"both frame directions must fuse into one Window pass:\n$p")
  }

  test("q_latest_per_key: one partial-aggregable shuffle, never a window sort") {
    val p = plan("q_latest_per_key")
    assert(!p.contains("Window"), s"max(struct) agg must not plan a Window:\n$p")
    assert(p.contains("partial_max") || p.contains("HashAggregate"),
      s"latest-per-key must be a map-side-combinable aggregate:\n$p")
  }

  test("q_funnel: each stage's event_type filter pushes to the parquet scan") {
    // r17: the view/click stage frames are staged (each fed two
    // consumers that re-ran the whole upstream chain — 6 events scans
    // in the un-staged plan), so their pushed filters live in the
    // staged plans, not the final one. Assert the same invariant stage
    // by stage: a fresh un-staged build of each stage filter pushes to
    // the scan, and the final plan still pushes the purchase filter and
    // reads the two stages instead of re-deriving them.
    import org.apache.spark.sql.functions._
    def stagePlan(et: String): String = graft.sources.Tables.events(spark, Sf001)
      .select(col("user_id"), col("event_type"), unix_millis(col("ts")).as("ms"))
      .filter(col("event_type") === et)
      .groupBy(col("user_id")).agg(min(col("ms")).as("m"))
      .queryExecution.executedPlan.toString
    Seq("view", "click", "purchase").foreach { et =>
      assert(stagePlan(et).contains(s"EqualTo(event_type,$et)"),
        s"stage filter $et must reach PushedFilters")
    }
    val p = plan("q_funnel")
    assert(p.contains("EqualTo(event_type,purchase)"),
      s"the purchase stage filter must reach PushedFilters:\n$p")
    assert(nOcc(p, "InMemoryTableScan") >= 2,
      s"view/click stages must be served from their stored blocks:\n$p")
    // the plan string also renders each stage's own plan, so count the
    // scans outside the stages the way `Inspect --scans` does
    val buf = new java.io.ByteArrayOutputStream
    val out = new java.io.PrintStream(buf, true, "UTF-8")
    tools.Inspect.run(spark, "q_funnel", "--scans", Sf001, out = out)
    assert(buf.toString("UTF-8").contains("events x1\n"),
      s"exactly one events scan may remain in the final plan:\n$buf")
    assert(!p.contains("CartesianProduct"))
  }

  test("q_dsir_weights: broadcast weight table, doc-keyed shuffles only") {
    // the scale contract of E144: the B-row (4096) bucket-weight frame
    // and the 1-row totals frames broadcast; the corpus-sized token
    // stream is never the build side of anything, and the per-doc score
    // is a map-side-combinable hash aggregate
    val p = plan("q_dsir_weights")
    assert(p.contains("BroadcastHashJoin"),
      s"the ld weight table must broadcast into the token stream:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"no corpus-sized join side may shuffle-sort:\n$p")
    assert(p.contains("HashAggregate") || p.contains("ObjectHashAggregate"),
      s"per-doc scoring must be a combinable aggregate:\n$p")
  }

  test("q_percentiles: one hash-aggregate pass, no window machinery") {
    // the r6 spillable-percentile rewrite's plan contract: a
    // TypedImperativeAggregate rides ObjectHashAggregate (one shuffle,
    // partial + final), with the r5 sort-window machinery gone — a
    // WindowExec reappearing here means someone reverted to the 2×-cost
    // selection form
    val p = plan("q_percentiles")
    assert(p.contains("ObjectHashAggregate"),
      s"percentile_spill must aggregate via ObjectHashAggregate:\n$p")
    assert(!p.contains("Window"), s"no WindowExec in the percentile path:\n$p")
    assert(nOcc(p, "(?i)scan parquet") === 1,
      s"one lineitem pass:\n$p")
  }

  test("q_pruned_scan: filter and projection reach the parquet scan") {
    val p = plan("q_pruned_scan")
    assert(p.contains("PushedFilters: [IsNotNull(l_discount), GreaterThan(l_discount"),
      s"predicate must be pushed:\n$p")
    val readSchema = "ReadSchema:.*".r.findFirstIn(p).getOrElse("")
    assert(readSchema.contains("l_orderkey") && !readSchema.contains("l_comment"),
      s"scan must read only the projected columns: $readSchema")
  }

  test("q_simjoin_prefix exact-df mode: bounded-heap prefix agg, shuffle-hash rank join, no array regroup (r16)") {
    // the r15 form regrouped the full gram stream with
    // sort_array(collect_list(...)) — an object agg whose sort fallback
    // ENOSPC'd the sf10 probe; this pins the r16 single-node-safe plan:
    // the smallest_k bounded-heap aggregate, shuffled-hash joins for the
    // corpus×grams rank/plen edges (never a broadcast of the unbounded
    // exact-df rank table), and no collect_list anywhere
    // a gate below any corpus forces the exact-df path
    graft.ops.Scale.forcing(_.copy(simjoinSampledMaxDocs = -1L)) {
      val p = plan("q_simjoin_prefix")
      assert(p.contains("smallest_k"),
        s"exact-df prefix must ride the bounded-heap aggregate:\n$p")
      // (sort_array itself still appears — the verify stage's per-ROW
      // map-side gram-set sort, which never regroups anything)
      assert(!p.contains("collect_list"),
        s"no full-array regroup in the exact-df path:\n$p")
      assert(nOcc(p, "ShuffledHashJoin") >= 4,
        s"rank/plen/meta/candidate joins must all be shuffled-hash:\n$p")
    }
  }

  test("embeddingNearDupPairs: explicit (t, sig) partition count reaches the bucket self-join (r15/r16 sizing)") {
    // q_embed_neardup sizes this from parquet footers
    // (Dedup.sizedShufflePartitions — formula unit-pinned in
    // PrefixSmallestKSpec); here the plan-side half: a caller-supplied
    // count must survive into the join's exchange (no silent fixed-32
    // regression — at the next decade that is a 3.5 GB-build OOM class)
    val e = sources.Tables.embeddings(spark, Sf001)
    val p = ops.Dedup.embeddingNearDupPairs(e, "embedding", "vec_id",
        numPlanes = 8, threshold = 0.98, numTables = 2, numPartitions = 57)
      .queryExecution.executedPlan.toString
    assert(p.contains(", 57)"),
      s"the sized (t, sig) repartition must reach the bucket join:\n$p")
    assert(p.contains("ShuffledHashJoin"), s"bucket join must stay SHJ:\n$p")
  }

  test("embeddingNearDupPairs occupancy cap: skinny count branch, one sized vector exchange on the full join key (r16)") {
    val e = sources.Tables.embeddings(spark, Sf001)
    val p = ops.Dedup.embeddingNearDupPairs(e, "embedding", "vec_id",
        Seq(12, 12, 11), 0.98, 42L, 64, 57, splitOcc = 16, splitTarget = 8,
        stageBuckets = false)
      .queryExecution.executedPlan.toString
    // the cap sub-key must be part of the self-join keys AND of the
    // sized repartition — otherwise over-cap rows co-shuffle unsplit
    // (the emission curve silently reverts to n^1.2)
    assert(p.contains("ext"), s"cap sub-key missing from the plan:\n$p")
    assert("hashpartitioning\\(t#\\d+, sig#\\d+L, ext#\\d+L, 57\\)".r
        .findFirstIn(p).isDefined,
      s"vector rows must move in the sized (t, sig, ext) repartition:\n$p")
    // the occupancy-count branch must stay SKINNY: its scan reads the
    // embedding column only (no ids — column pruning reached the scan),
    // so its exchange moves bucket-count rows, never vector payloads
    assert(p.contains("ReadSchema: struct<embedding:array<float>>"),
      s"occupancy-count branch must scan the pruned schema:\n$p")
    assert(p.contains("ShuffledHashJoin"), s"bucket join must stay SHJ:\n$p")
  }

  test("staged bucket self-join: SHJ reads cached blocks with NO exchange (r16)") {
    // with the occupancy cap's broadcast join in the bucket subtree,
    // AQE's stage cache stopped canonical-matching the two self-join
    // sides — measured as twin ~13 GB shuffle writes at the 4M-vector
    // probe. The fix is the q_simjoin_prefix staging discipline: the
    // (t, sig, ext)-repartitioned frame is staged DISK_ONLY once and
    // the join's sides read stored blocks with the HashPartitioning
    // intact (partition keys == join keys, in order), so the join
    // inserts no exchange at all.
    val e = sources.Tables.embeddings(spark, Sf001)
    ops.Staging.scoped {
      val buckets = ops.Staging.stage(ops.Dedup.embeddingBuckets(
        e, "embedding", "vec_id", Seq(12, 12, 11), 42L, 64, 57, 16, 8))
      val a = buckets.as("a"); val b = buckets.as("b")
      val joined = a.hint("shuffle_hash").join(b,
          col("a.t") === col("b.t") && col("a.sig") === col("b.sig") &&
            col("a.ext") === col("b.ext") && col("a.id") < col("b.id"))
      // the stage runs no job of its own, so the plan made before it
      // runs cannot know its partitioning and carries an exchange over
      // the cache scan; AQE drops it once the table-cache stage has
      // materialized. The plan that counts is the one the write ran.
      val p = tools.Inspect.finalPlan(joined)
      assert(p.contains("isFinalPlan=true"), s"not the executed plan:\n$p")
      val joinRegion =
        p.split("ShuffledHashJoin")(1).split("InMemoryRelation")(0)
      assert(!joinRegion.contains("Exchange hashpartitioning"),
        s"staged self-join must not re-exchange the bucket rows:\n$p")
      assert(joinRegion.contains("InMemoryTableScan"),
        s"staged self-join must read the cached blocks:\n$p")
    }
  }
}
