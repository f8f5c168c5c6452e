package graft

/** Plan-quality regression guards: the physical plans the engine is
  * DESIGNED to produce (pushdown, pruning, broadcast, top-k without
  * full sort) must not silently degrade. Checks the explain output of
  * representative gate queries. */
class PlanQualitySpec extends SparkSpec {

  private def plan(name: String): String = {
    val qe = SparkEntry.queries(name)(spark, sf("sf0.01")).queryExecution
    qe.explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
  }

  test("q01: filter pushed to parquet scan + pruned read schema") {
    val p = plan("q01_pricing_summary")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      "shipdate filter must reach the scan")
    assert(!p.contains("l_tax"), "untouched columns must be pruned from the read")
  }

  test("q06: all three predicates pushed, aggregate-only projection") {
    val p = plan("q06_revenue_forecast")
    assert(p.contains("GreaterThanOrEqual(l_shipdate"))
    assert(p.contains("LessThan(l_quantity,24.0)"))
    assert(!p.contains("l_returnflag"), "only filter/agg columns read")
  }

  test("q03: dimension sides broadcast, top-10 is TakeOrdered not full sort") {
    val p = plan("q03_shipping_priority")
    assert(p.contains("BroadcastHashJoin"), "customer/orders side must broadcast")
    assert(p.contains("TakeOrderedAndProject"), "LIMIT 10 must not global-sort")
  }

  test("q07: anti-join stays a hash anti-join") {
    val p = plan("q07_customers_without_orders")
    assert(p.contains("LeftAnti"), "new-rows detection must be an anti-join")
  }

  test("q31: native dot product expression is in the plan (not zip_with)") {
    val p = plan("q31_cosine_topk")
    assert(p.contains("graft_dot"), "similarity must use the native expression")
    assert(p.contains("TakeOrderedAndProject"), "top-k must not global-sort")
  }

  private def explainOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  test("keyHistogram: share total is a broadcast scalar, not a global window") {
    val df = spark.read.parquet(sf("sf0.01") + "/lineitem.parquet")
    val p = explainOf(graft.ops.Skew.keyHistogram(df, "l_suppkey"))
    // an empty-frame Window would funnel every distinct key through one task
    assert(!p.contains("Window"), "no single-partition window allowed:\n" + p)
    assert(p.contains("BroadcastExchange"), "total must broadcast")
  }

  test("q30 LSH: band exchanges carry (band,id) only off ONE cached signature pass") {
    // broadcast off → the 100 TB shuffle shape (at test scale the small
    // side would broadcast and hide the exchanges under AQE)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val docs = spark.read.parquet(sf("sf0.01") + "/documents.parquet")
      val (sig, verified) = graft.dedup.Dedup.lshPlan(
        docs, "doc_id", "text", 3, 4, 0.0, cacheSignatures = true)
      val p = explainOf(verified)
      // one band-key exchange per self-join side, nothing more — the
      // round-1 2.7x win came from shuffling (band,id) instead of
      // shingle arrays; a third band exchange or a wide payload means
      // the signature cache stopped being reused
      val bandEx = p.linesIterator.filter(_.contains("hashpartitioning(band")).toSeq
      assert(bandEx.length == 2, s"expected 2 band exchanges, got:\n${bandEx.mkString("\n")}")
      // every read comes from the cached signature table: ONE parquet
      // scan node (shared by all four InMemoryRelation prints), four
      // cache scans
      val parquetScans = p.linesIterator
        .count(_.trim.matches("""\(\d+\) Scan parquet\s*.*"""))
      assert(parquetScans == 1, s"signatures must come from ONE scan, plan has $parquetScans")
      assert(p.linesIterator.count(_.contains("InMemoryTableScan")) >= 4,
        "self-join sides and both sh-fetches must reuse the cache")
      // the signature expression is evaluated exactly once (inside the
      // cached relation) — not re-derived per join side — and it is the
      // native codegen'd form, not the interpreted lambda chain
      assert(p.linesIterator.count(_.contains("graft_lsh_sig")) == 1,
        "the native signature expression must run once, inside the cache")
      assert(!p.contains("lambdafunction(concat_ws"),
        "interpreted shingle lambdas must not appear (native graft_lsh_sig replaces them)")
      // verification is the allocation-free native merge over the
      // cache's pre-sorted shingle sets — the per-pair boxed hash set
      // (array_intersect) must be gone from the verify projection
      assert(p.contains("graft_jaccard"),
        "the verify step must use the native merge expression")
      assert(!p.contains("array_intersect"),
        "per-pair interpreted set intersection must not appear:\n" + p)
      sig.unpersist()
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
  }

  test("q64 auto-block: one scan, codegen'd assignment in cache, (cell,id) joins") {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val emb = spark.read.parquet(sf("sf0.01") + "/embeddings.parquet")
      val (base, assigned, verified) = graft.dedup.SimilarJoin.autoEmbeddingPlan(
        emb, "vec_id", "embedding", minCos = 0.4, numCells = 16,
        refineIters = 1, cacheSignatures = true, maxBucket = 10000)
      val p = explainOf(verified)
      // the corpus is scanned ONCE (inside the base cache) — assignment
      // and both candidate sides all read the caches
      val parquetScans = p.linesIterator
        .count(_.trim.matches("""\(\d+\) Scan parquet\s*.*"""))
      assert(parquetScans == 1, s"expected ONE embeddings scan, got $parquetScans")
      assert(p.linesIterator.count(_.contains("InMemoryTableScan")) >= 2,
        "both candidate sides must reuse the assignment cache")
      // nearest-cell assignment is the reference-object codegen
      // expression, never an interpreted lambda or a crossJoin blow-up
      assert(p.contains("graft_dot"), "assignment/verify must use the native dot")
      assert(!p.contains("lambdafunction"), "no interpreted HOFs in the plan")
      // the qualifying cell-pair list rides a broadcast (explicit hint —
      // survives the disabled threshold); vectors ride the ONE
      // cell-keyed join (the ivfTopKBatch shape — late fetch measured
      // 8.2× the shuffle bytes); no per-pair-id vector fetch exchanges
      assert(p.contains("BroadcastHashJoin"), "cell-pair list must broadcast")
      assert(p.linesIterator.exists(_.contains("hashpartitioning(_jc")),
        "candidate join must partition by the routed cell key")
      assert(!p.linesIterator.exists(_.contains("hashpartitioning(id_a")) &&
        !p.linesIterator.exists(_.contains("hashpartitioning(id_b")),
        "pair rows must not re-shuffle by id for vectors (late fetch):\n" + p)
      assigned.foreach(_.unpersist())
      base.unpersist()
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
  }

  test("q69 A-vs-B LSH: one scan per side, (band,id) probe join, native verify") {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val docs = spark.read.parquet(sf("sf0.01") + "/documents.parquet")
      val (caches, verified) = graft.dedup.Dedup.lshPlanAgainst(
        docs.filter("doc_id % 2 = 1"), docs.filter("doc_id % 2 = 0"),
        "doc_id", "text", 3, 4, 0.1, cacheSignatures = true)
      val p = explainOf(verified)
      // each SIDE is scanned once into its signature cache — the whole
      // incremental join costs two corpus passes, never four
      val parquetScans = p.linesIterator
        .count(_.trim.matches("""\(\d+\) Scan parquet\s*.*"""))
      assert(parquetScans == 2, s"expected ONE scan per side, got $parquetScans")
      assert(p.linesIterator.count(_.contains("InMemoryTableScan")) >= 4,
        "both band probes and both sh-fetches must reuse the side caches")
      // the CORPUS side is probed, never shuffled: the batch band rows
      // broadcast into the candidate join and the candidate ids
      // broadcast-semi-probe the corpus signature fetch — no band-key
      // exchange anywhere in the plan
      val bandEx = p.linesIterator.filter(_.contains("hashpartitioning(band")).toSeq
      assert(bandEx.isEmpty,
        s"the corpus band table must not shuffle:\n${bandEx.mkString("\n")}")
      assert(p.contains("Join type: LeftSemi"),
        "the sh_b fetch must semi-probe the corpus signature table")
      assert(p.linesIterator.count(_.contains("BroadcastExchange")) >= 2,
        "batch bands and candidate ids must broadcast")
      // native signature + verify expressions, once per side / per pair
      assert(p.linesIterator.count(_.contains("graft_lsh_sig")) == 2,
        "each side computes its signatures exactly once, inside its cache")
      assert(p.contains("graft_jaccard"), "verify must be the native merge")
      assert(!p.contains("array_intersect") && !p.contains("lambdafunction"),
        "no interpreted per-pair set ops in the A-vs-B plan:\n" + p)
      caches.foreach(_.unpersist())
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
  }

  test("q73 A-vs-B SimHash: keys-only band probe, native signature, long verify") {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val docs = spark.read.parquet(sf("sf0.01") + "/documents.parquet")
      val verified = graft.dedup.Dedup.simhashNearDupPairsAgainst(
        docs.filter("doc_id % 2 = 1"), docs.filter("doc_id % 2 = 0"),
        "doc_id", "text", maxHamming = 3, cacheSignatures = false)
      val p = explainOf(verified)
      // each side is one scan feeding its signature; the corpus band
      // index is PROBED by the broadcast batch bands — no (bi, bv)
      // exchange on either side
      val parquetScans = p.linesIterator
        .count(_.trim.matches("""\(\d+\) Scan parquet\s*.*"""))
      assert(parquetScans <= 4, s"at most two passes per side, got $parquetScans")
      val bandEx = p.linesIterator
        .count(l => l.contains("hashpartitioning(bi") && l.contains("bv"))
      assert(bandEx == 0, s"the band probe must broadcast, got $bandEx band exchanges:\n$p")
      assert(p.contains("BroadcastExchange"), "batch bands must broadcast")
      // signatures are the native one-pass expression; the verify is a
      // codegen'd xor + bit_count on longs — no interpreted HOFs
      assert(p.contains("graft_simhash32"), "signature must be the native pass")
      assert(p.contains("bit_count"), "verify must be the long Hamming")
      assert(!p.contains("lambdafunction"), "no interpreted HOFs in the plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
  }

  test("q67 A-vs-B auto-block: per-side scans/caches, broadcast cell pairs, vectors ride the cell join") {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val emb = spark.read.parquet(sf("sf0.01") + "/embeddings.parquet")
      val (caches, verified) = graft.dedup.SimilarJoin.autoEmbeddingPlanAgainst(
        emb.filter("vec_id % 5 = 0"), emb.filter("vec_id % 5 <> 0"),
        "vec_id", "embedding", minCos = 0.4, numCells = 16,
        refineIters = 1, cacheSignatures = true, maxBucket = 10000)
      val p = explainOf(verified)
      // one scan per side; both candidate sides read the caches
      val parquetScans = p.linesIterator
        .count(_.trim.matches("""\(\d+\) Scan parquet\s*.*"""))
      assert(parquetScans == 2, s"expected ONE scan per side, got $parquetScans")
      assert(p.linesIterator.count(_.contains("InMemoryTableScan")) >= 2,
        "both candidate sides must reuse the per-side caches")
      // assignment and verify ride the native codegen'd dot product;
      // no interpreted lambdas anywhere in the shipped plan
      assert(p.contains("graft_dot"), "assignment/verify must use the native dot")
      assert(!p.contains("lambdafunction"), "no interpreted HOFs in the plan")
      // the DIRECTED cell-pair list rides a broadcast; vectors ride the
      // ONE cell-keyed join (r20 — the ivfTopKBatch shape); no
      // per-pair-id vector fetch exchanges
      assert(p.contains("BroadcastHashJoin"), "cell-pair list must broadcast")
      assert(p.linesIterator.exists(_.contains("hashpartitioning(_jc")),
        "candidate join must partition by the routed cell key")
      assert(!p.linesIterator.exists(_.contains("hashpartitioning(id_a")) &&
        !p.linesIterator.exists(_.contains("hashpartitioning(id_b")),
        "pair rows must not re-shuffle by id for vectors (late fetch):\n" + p)
      caches.foreach(_.unpersist())
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
  }

  test("ivfTopKBatch: one cell-key candidate join, no pair-id vector exchanges") {
    // the measured winner (vectors ride the single cell
    // join; late fetch measured 8.2× the shuffle bytes) must not
    // silently regress into the keys-only + fetch-join shape
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val emb = spark.read.parquet(sf("sf0.01") + "/embeddings.parquet")
      val probes = emb.orderBy(emb("vec_id")).limit(5)
        .select(emb("vec_id").as("q_id"), emb("embedding").as("q_vec"))
      val p = explainOf(graft.sim.Similarity.ivfTopKBatch(emb, "vec_id",
        "embedding", probes, "q_id", "q_vec", nprobe = 4, k = 10,
        numCells = 16))
      // ONE candidate join on the cell key — both its exchanges carry
      // the side's vectors exactly once
      val cellEx = p.linesIterator.count(_.contains("hashpartitioning(cell"))
      assert(cellEx == 2, s"expected the single cell-key join's 2 exchanges, got $cellEx:\n$p")
      // no post-candidate fetch joins: pid/id exchanges would mean the
      // pair list is being shuffled again for its vectors (TopKPerGroup
      // clusters by pid but reuses the join's partitioning only if...
      // it can't — so exactly ONE pid exchange, carrying scored triples)
      val pidEx = p.linesIterator.count(_.contains("hashpartitioning(pid"))
      assert(pidEx <= 1, s"pair rows must shuffle at most once (TopK), got $pidEx:\n$p")
      assert(!p.linesIterator.exists(_.contains("hashpartitioning(id#")),
        "no corpus-id fetch join in the shipped shape:\n" + p)
      // scoring is the native codegen'd dot; the bounded-heap top-k
      assert(p.contains("graft_dot") && p.contains("TopKPerGroup"))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
  }

  test("q29: band columns come from the native graft_lsh_sig expression") {
    val p = plan("q29_minhash_bands")
    // one implementation of the LSH value contract: q29 rides the same
    // codegen'd expression as q30 — the interpreted staged chain it
    // replaced must not reappear (it survives only as the bands>4 path)
    assert(p.contains("graft_lsh_sig"), "q29 must use the native signature expression")
    assert(!p.contains("lambdafunction"),
      "no interpreted higher-order lambdas in the q29 plan:\n" + p)
  }

  test("q36: rolling hash is the native codegen'd expression") {
    val p = plan("q36_rolling_hash")
    assert(p.contains("graft_rolling_hash"), "q36 must use the native expression")
    assert(!p.contains("lambdafunction"),
      "no interpreted transform/aggregate fold in the q36 plan:\n" + p)
  }

  test("q57: static dimension side broadcasts under the enrichment join") {
    val p = plan("q57_stream_static_enrich")
    assert(p.contains("BroadcastHashJoin"), "customer dim must broadcast")
    assert(!p.contains("SortMergeJoin"),
      "the stream-static enrichment must not shuffle the event side")
  }

  test("q61 simhash pairs: band join carries small ints; signature fetched post-dedup") {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val docs = spark.read.parquet(sf("sf0.01") + "/documents.parquet")
      // the SHIPPED un-materialized plan (the public operator persists
      // +counts, which would hide the join under a cache scan)
      val (sig, verified) = graft.dedup.Dedup.simhashPairPlan(
        docs, "doc_id", "text", 3, cacheSignatures = false)
      val p = explainOf(verified)
      val lines = p.linesIterator.toVector
      // exactly two band-key shuffles (the self-join sides)
      val bandExIds = lines.filter(_.contains("hashpartitioning(bi")).toSeq
      assert(bandExIds.length == 2,
        s"band self-join must shuffle on (bi,bv):\n${bandExIds.mkString("\n")}")
      // the band exchanges' INPUT (the actually-shuffled payload) must
      // be the three small columns — never the document text. In
      // formatted mode the Exchange detail block is
      //   (n) Exchange \n Input [..]: [...] \n Arguments: hashpartitioning(bi...
      val exchangeInputs = lines.sliding(3).collect {
        case Vector(hdr, input, args)
          if hdr.trim.matches("""\(\d+\) Exchange.*""") &&
            input.trim.startsWith("Input") &&
            args.contains("hashpartitioning(bi") => input
      }.toSeq
      assert(exchangeInputs.nonEmpty, "expected Exchange detail blocks:\n" + p)
      exchangeInputs.foreach { in =>
        assert(!in.contains("text#") && !in.contains("sig#"),
          s"band exchange must carry (bi, bv, id) only, got: $in")
      }
      assert(sig != null)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
  }

  test("q49 clusters: returned frame reads the final checkpoint, not the loop lineage") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    // a model-sized graph lands on the r21 driver union-find tier: the
    // result is a LOCAL relation — nothing to re-evaluate at all
    val clusters = graft.dedup.Dedup.dupClusters(pairs)
    val p = explainOf(clusters)
    assert(p.contains("LocalTableScan"),
      "driver-tier result must be a local relation:\n" + p)
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      "no propagation joins may survive into the result plan:\n" + p)
    assert(!p.contains("Scan parquet"))
    val got = clusters.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
    // the distributed loop (forced): the returned frame must read the
    // final round's checkpointed blocks — if the full iterative
    // lineage (joins over the original pair pipeline) reappears here,
    // every downstream action re-runs the whole propagation
    spark.conf.set("spark.graft.clusters.localMaxEdges", "0")
    try {
      val loop = graft.dedup.Dedup.dupClusters(pairs)
      val lp = explainOf(loop)
      assert(lp.contains("Scan ExistingRDD"),
        "loop result must read the checkpointed labels:\n" + lp)
      assert(!lp.contains("SortMergeJoin") && !lp.contains("BroadcastHashJoin"),
        "no propagation joins may survive into the result plan:\n" + lp)
      assert(!lp.contains("Scan parquet"))
      val lg = loop.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(lg == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
    } finally spark.conf.unset("spark.graft.clusters.localMaxEdges")
  }

  test("table-cardinality summary reads the table ONCE (no per-column scans)") {
    val df = spark.read.parquet(sf("sf0.01") + "/nation.parquet")
    val p = explainOf(graft.apps.TableCardinality.summary(df))
    // count node-detail entries "(n) Scan parquet" — one per scan node
    val scans = p.linesIterator.count(_.trim.matches("""\(\d+\) Scan parquet\s*.*"""))
    assert(scans == 1, s"expected a single scan, plan has $scans:\n" + p)
    assert(!p.contains("Union"), "summary must not union per-column jobs")
    assert(!p.contains("Window"))
  }

  test("q87 sharded packing: offsets join broadcasts, windows keyed by (group, shard)") {
    val p = plan("q87_seq_packing_sharded")
    assert(p.contains("BroadcastHashJoin"),
      "the tiny per-shard offset table must broadcast, never shuffle the docs")
    assert(!p.contains("SortMergeJoin"),
      "no corpus-side shuffle join anywhere in the sharded packer")
    // the local cumsum window must carry the shard in its partition key —
    // that key is the whole point (parallelism beyond #groups)
    assert(p.contains("_shard"), "shard key missing from the plan")
  }

  test("q86 scaled token ids: vocab join broadcasts off the mapPartitions stream") {
    val p = plan("q86_bpe_token_ids_scaled")
    assert(p.contains("BroadcastHashJoin"),
      "vocabulary id resolution must be a broadcast hash join")
    assert(p.contains("MapPartitions"),
      "the greedy applier must ride mapPartitions")
    assert(!p.contains("SortMergeJoin"),
      "the corpus-sized token stream must never shuffle for vocab lookup")
  }

  test("q97 extended PII: scan-stage map — no aggregation shuffle, no window") {
    val p = plan("q97_pii_extended")
    assert(!p.contains("Exchange hashpartitioning"),
      "redaction + checksum audits must stay per-row:\n" + p)
    assert(!p.contains("Window"), "no window in a pure scrub pass")
  }

  test("q98 C4 clean: lines stay in-row (HOF filter, no explode, no shuffle)") {
    val p = plan("q98_c4_line_clean")
    assert(!p.contains("Exchange hashpartitioning"),
      "line cleaning must not shuffle:\n" + p)
    assert(!p.contains("Generate"),
      "lines must ride array HOFs, never a per-line explode")
  }

  test("q99 tf-idf: custom bounded-heap TopKPerGroup, corpus N broadcast") {
    val p = plan("q99_tfidf_topk")
    assert(p.contains("TopKPerGroup"),
      "ranking must use the custom operator, not a window")
    assert(!p.contains("Window"),
      "no full per-doc sort for top-5")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "the 1-row corpus-count frame must broadcast")
  }

  test("q101 ADC top-k: params/probe broadcast, top-10 is TakeOrdered") {
    val p = plan("q101_adc_topk")
    assert(p.contains("TakeOrderedAndProject"),
      "k smallest distances must not global-sort")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "SQ8 params and the probe vector must broadcast to the scan")
  }

  test("q102 IVF-ADC: cell semi-join broadcasts, scoring is TakeOrdered") {
    val p = plan("q102_ivf_adc_topk")
    assert(p.contains("LeftSemi"),
      "cell restriction must be a semi-join on the broadcast cell list")
    assert(p.contains("TakeOrderedAndProject"),
      "k smallest distances must not global-sort")
    assert(!p.contains("SortMergeJoin"),
      "nothing corpus-sized may shuffle-join in the probe path")
  }

  test("q104 mixture: plan broadcasts, no corpus-sized shuffle join") {
    val p = plan("q104_mixture_epochs")
    assert(p.contains("BroadcastHashJoin"),
      "the (source, epochs, frac) plan must broadcast back to the docs")
    assert(!p.contains("SortMergeJoin"),
      "no corpus shuffle for a per-source plan of a handful of rows")
    assert(!p.contains("Window"), "epoch arithmetic needs no window")
  }

  test("q110 stratified sample: bounded-heap TopKPerGroup, no window") {
    val p = plan("q110_stratified_sample")
    assert(p.contains("TopKPerGroup"),
      "exact-n selection must use the custom operator")
    assert(!p.contains("Window"), "no full per-group sort for n=5")
  }

  test("q113 SCD2: key-equi verdict joins only, no window, no cartesian") {
    // the authored shape is ONE full-outer join; Catalyst specializes
    // it per union branch (LeftOuter/Inner/RightOuter) after pushing
    // each branch's null-side filter — strictly better, every branch
    // joins only what it needs. Pin what must NOT appear instead.
    val p = plan("q113_scd2_apply")
    assert(p.contains("Join"), "the verdict must come from a key join")
    assert(!p.contains("Window"), "versioning needs no window")
    assert(!p.contains("CartesianProduct"), "nothing may cross-join")
  }

  test("q106 batch IVF-ADC: both top-k stages are the custom operator") {
    val p = plan("q106_ivf_adc_batch")
    assert("TopKPerGroup".r.findAllIn(p).size >= 2,
      "routing cutoff AND final per-probe rank must use TopKPerGroup")
    assert(!p.contains("Window"),
      "no window rank anywhere in the batch path")
    assert(p.contains("BroadcastHashJoin"),
      "the (probe, cell) routing table must broadcast into the cell join")
  }

  test("q139 audio pairs: band join carries small ints, signatures " +
      "fetched post-dedup, no cartesian") {
    val p = plan("q139_audio_hash_pairs")
    assert(!p.contains("CartesianProduct"),
      "banded candidates, never all-pairs")
    assert(p.contains("bit_count"),
      "exact Hamming verify must be the codegen'd bit_count")
  }

  test("q143 PQ ADC top-k: codebook/LUT broadcast, top-10 is " +
      "TakeOrdered, no corpus shuffle") {
    val p = plan("q143_pq_adc_topk")
    assert(p.contains("TakeOrderedAndProject"),
      "k smallest distances must not global-sort")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "the probe LUT must broadcast to the scan")
    assert(!p.contains("SortMergeJoin"),
      "nothing corpus-sized may shuffle-join in the probe path")
  }

  test("batch IVF over caller blocks: both top-k stages custom, routing " +
      "broadcast, no window, no corpus-sized shuffle join") {
    import org.apache.spark.sql.functions.col
    val emb = graft.Tables.load(spark, sf("sf0.01"), "embeddings")
    val out = graft.sim.Quantize.ivfAdcTopKBatch(emb,
      emb.filter(col("vec_id") < 5), "vec_id", "embedding", "label",
      nprobe = 2, k = 10)
    val p = out.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert("TopKPerGroup".r.findAllIn(p).size >= 2,
      "routing cutoff AND final per-probe rank must use TopKPerGroup")
    // every RANKING stage must be the custom operator
    assert(!p.contains("Window"), s"unexpected Window in the batch path:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      "the (probe, q, cell) routing table must broadcast into the cell join")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      "the coded corpus must never shuffle-join or cross-join")
  }

  /** The operator names of a formatted plan's tree, top down. */
  private def treeNodes(p: String): Seq[String] =
    p.linesIterator.takeWhile(!_.startsWith("(1) "))
      .map(_.replaceAll("""^[\s:+\-]*""", "").replaceAll("""\s*\(\d+\)$""", ""))
      .filter(_.nonEmpty).toSeq

  test("q146 trained IVF-PQ: one corpus scan, one broadcast (the " +
      "routing table), shortlist and exact top-k both custom on one " +
      "hash exchange, no by-id join, no window, no cartesian") {
    val p = plan("q146_ivfpq_topk")
    val scans = p.linesIterator.filter(_.matches("""\(\d+\) Scan parquet.*""")).toSeq
    assert(scans.length == 2,
      s"one corpus scan and one probe scan, got ${scans.length}:\n$p")
    assert("BroadcastExchange \\(".r.findAllIn(p).size == 1,
      s"only the routing table may broadcast — no shortlist or probe " +
        s"re-broadcast for a late fetch:\n$p")
    val nodes = treeNodes(p)
    assert(nodes.count(_.contains("Join")) == 1 &&
      nodes.exists(_.startsWith("BroadcastHashJoin")),
      s"the broadcast cell join is the only join — no by-id fetch join:\n$p")
    assert("hashpartitioning\\(".r.findAllIn(p).size == 1,
      s"one hash exchange, keyed by probe:\n$p")
    val tops = nodes.zipWithIndex.filter(_._1 == "TopKPerGroup").map(_._2)
    assert(tops.length == 2,
      "the ADC shortlist AND the exact top-k must use TopKPerGroup")
    val below = nodes.drop(tops.head + 1)
    val ex = below.indexWhere(_.startsWith("Exchange"))
    assert(ex > below.indexOf("TopKPerGroup") &&
      below.indexWhere(_.startsWith("BroadcastHashJoin")) > ex,
      s"both TopKPerGroups sit above the one exchange over the join:\n" +
        nodes.mkString("\n"))
    assert(!p.contains("Window"),
      "no ranking stage may fall back to a window sort")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      "the coded corpus must never shuffle-join or cross-join — the " +
        "model rides in the kernels as reference objects, not a joined frame")
  }

  test("q146/q147 trained IVF-PQ: each probe is routed once — the " +
      "routing kernel never runs in a Filter") {
    for (q <- Seq("q146_ivfpq_topk", "q147_ivfpq_recall")) {
      val p = plan(q)
      val filters = p.split("\n(?=\\(\\d+\\) )")
        .filter(_.matches("(?s)\\(\\d+\\) Filter\n.*"))
      assert(p.contains("graft_routed_long_cells"), s"$q must route probes")
      assert(!filters.exists(_.contains("graft_routed_long_cells")),
        s"$q: an explode-inferred size(_cells) > 0 filter re-runs the " +
          "routing kernel:\n" + filters.mkString("\n"))
    }
  }

  test("q146 trained IVF-PQ: the fused encode runs once per corpus row, " +
      "in a Project below the cell join — never in a Filter") {
    val p = plan("q146_ivfpq_topk")
    // formatted explain details: "(n) Filter" then its Input/Condition
    val filters = p.split("\n(?=\\(\\d+\\) )").filter(_.matches("(?s)\\(\\d+\\) Filter\n.*"))
    assert(filters.nonEmpty, "the corpus scan must keep its null filter")
    assert(!filters.exists(_.contains("graft_long_pq_encode")),
      "the join's inferred isnotnull(cell) filter must not re-run the " +
        "encode kernel:\n" + filters.mkString("\n"))
    assert("graft_long_pq_encode\\(".r.findAllIn(p).size == 1,
      "one encode per corpus row: cell and codes are fields of one struct")
    assert(p.contains("graft_adc_lut_sum") && p.contains("graft_long_l2"),
      "ADC and refine distances must be the codegen'd kernels")
  }
}
