package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.ProbeGuard

/** The forced-broadcast probe contract must be SELF-ENFORCING and
  * degrade GRACEFULLY: every probe shape (corpus fingerprint probe,
  * LSH/Hamming band probes, the fuzzy key probe) counts its
  * batch-derived key set and, above `spark.graft.probe.maxKeys`, drops to
  * the Bloom tier (the standing side's scan is filtered by a
  * `might_contain` built from the keys — bit-identical, the standing
  * table still never exchanges at its own scale) and only beyond
  * `spark.graft.probe.bloomMaxKeys` to the sort-merge shape, loudly. Each
  * site test drives an over-threshold "batch" through BOTH degraded
  * tiers and asserts (a) the plan carries NO forced broadcast
  * (auto-broadcast is off, so any BroadcastExchange would be a hint)
  * and shows/omits the `might_contain` filter per tier, (b) the
  * results equal the contracted-shape run bit for bit, (c) the tier
  * change is logged. The contracted shape itself is pinned in
  * PlanQualitySpec (q69/q73/fp probes) — those pins plus these
  * fallbacks are the halves of the guard's "done" contract. */
class ProbeGuardSpec extends SparkSpec {

  private def withCap[T](cap: String)(body: => T): T = {
    spark.conf.set(ProbeGuard.ConfKey, cap)
    try body finally spark.conf.unset(ProbeGuard.ConfKey)
  }

  /** Pins the SHUFFLE tier under a small cap (Bloom tier disabled). */
  private def withShuffleTier[T](cap: String)(body: => T): T = {
    spark.conf.set(ProbeGuard.BloomKeysKey, "0")
    try withCap(cap)(body)
    finally spark.conf.unset(ProbeGuard.BloomKeysKey)
  }

  private def withLogCapture[T](body: => T): (T, Seq[String]) = {
    val buf = scala.collection.mutable.ArrayBuffer.empty[String]
    val old = ProbeGuard.log
    ProbeGuard.log = m => buf.synchronized { buf += m }
    try (body, ()) match { case (r, _) => (r, buf.toSeq) }
    finally ProbeGuard.log = old
  }

  private def noAutoBroadcast[T](body: => T): T = {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try body
    finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
  }

  private def planOf(df: DataFrame): String =
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  // ---------------------------------------------------------- unit level

  test("tiered: broadcast within cap, no hint + loud log on the shuffle tier") {
    import spark.implicits._
    val keys = (1 to 100).toDF("k")
    val big = spark.range(0, 1000).select(col("id").as("k"))
    def join(): DataFrame = {
      val t = ProbeGuard.tiered(big, keys, Seq("k"), "spec-site")
      t.standing.join(t.keys, Seq("k"))
    }
    noAutoBroadcast {
      // within contract → the hint is attached
      val okJoin = join()
      assert(planOf(okJoin).contains("BroadcastExchange"),
        "within the cap the probe must stay broadcast")
      // over contract → no hint, one warning naming the site and the knob
      withShuffleTier("10") {
        val (fbJoin, logs) = withLogCapture(join())
        assert(!planOf(fbJoin).contains("BroadcastExchange"),
          "over the cap the forced hint must be dropped:\n" + planOf(fbJoin))
        assert(logs.exists(m => m.contains("spec-site") &&
          m.contains(ProbeGuard.ConfKey)),
          s"fallback must log the site and the knob, got: $logs")
        assert(rows(fbJoin) == rows(big.join(broadcast(keys), Seq("k"))),
          "fallback must not change results")
      }
    }
  }

  test("onOverflow=fail turns the fallback into a loud error with the " +
      "same guidance; bad policy values are rejected") {
    import spark.implicits._
    val keys = (1 to 100).toDF("k")
    withShuffleTier("10") {
      spark.conf.set(ProbeGuard.PolicyKey, "fail")
      try {
        val e = intercept[IllegalStateException] {
          ProbeGuard.shapeOf(keys, "spec-site")
        }
        assert(e.getMessage.contains("spec-site") &&
          e.getMessage.contains(ProbeGuard.ConfKey))
        spark.conf.set(ProbeGuard.PolicyKey, "explode")
        val e2 = intercept[IllegalArgumentException] {
          ProbeGuard.shapeOf(keys, "spec-site")
        }
        assert(e2.getMessage.contains(ProbeGuard.PolicyKey))
      } finally spark.conf.unset(ProbeGuard.PolicyKey)
    }
  }

  test("cap <= 0 disables the guard; a non-numeric cap fails loudly") {
    import spark.implicits._
    val keys = (1 to 50).toDF("k")
    withShuffleTier("0") {
      val t = ProbeGuard.tiered(spark.range(0, 100).select(col("id").as("k")),
        keys, Seq("k"), "spec-site")
      assert(t.shape == ProbeGuard.Shape.Probe)
      val j = t.standing.join(t.keys, Seq("k"))
      noAutoBroadcast {
        assert(planOf(j).contains("BroadcastExchange"),
          "cap 0 must disable the guard (always hint)")
      }
    }
    withCap("not-a-number") {
      val e = intercept[IllegalArgumentException] {
        ProbeGuard.shapeOf(keys, "spec-site")
      }
      assert(e.getMessage.contains(ProbeGuard.ConfKey))
    }
  }

  // ----------------------------------------------------- tiered contract

  test("shapeOf: the tier ladder — probe within cap, Bloom between the " +
      "caps, shuffle beyond (or with the tier disabled / bits too weak)") {
    import spark.implicits._
    val keys = (1 to 100).toDF("k")
    def shape(): ProbeGuard.Shape = ProbeGuard.shapeOf(keys, "spec-site")._1
    assert(shape() == ProbeGuard.Shape.Probe)
    withCap("10") {
      assert(shape() == ProbeGuard.Shape.Bloom)
      spark.conf.set(ProbeGuard.BloomKeysKey, "50")
      try {
        val ((s, _), logs) = withLogCapture(ProbeGuard.shapeOf(keys, "spec-site"))
        assert(s == ProbeGuard.Shape.Shuffle)
        assert(logs.exists(m => m.contains(ProbeGuard.BloomKeysKey)),
          s"the over-Bloom fallback must name the Bloom cap, got: $logs")
      } finally spark.conf.unset(ProbeGuard.BloomKeysKey)
      spark.conf.set(ProbeGuard.BloomKeysKey, "0")
      try assert(shape() == ProbeGuard.Shape.Shuffle,
        "bloomMaxKeys <= 0 must disable the tier")
      finally spark.conf.unset(ProbeGuard.BloomKeysKey)
      // a bit cap too small for the key count degrades the achievable
      // fpp past usefulness -> shuffle, with the bits knob named
      spark.conf.set(ProbeGuard.BloomBitsKey, "64")
      try {
        val ((s, _), logs) = withLogCapture(ProbeGuard.shapeOf(keys, "spec-site"))
        assert(s == ProbeGuard.Shape.Shuffle)
        assert(logs.exists(_.contains(ProbeGuard.BloomBitsKey)))
      } finally spark.conf.unset(ProbeGuard.BloomBitsKey)
    }
  }

  test("shapeOf honors onOverflow=fail ONLY at the shuffle tier — the " +
      "Bloom tier is a designed regime, not a breach") {
    import spark.implicits._
    val keys = (1 to 100).toDF("k")
    withCap("10") {
      spark.conf.set(ProbeGuard.PolicyKey, "fail")
      try {
        assert(ProbeGuard.shapeOf(keys, "spec-site")._1 ==
          ProbeGuard.Shape.Bloom, "fail policy must not fire on the Bloom tier")
        spark.conf.set(ProbeGuard.BloomKeysKey, "50")
        try {
          val e = intercept[IllegalStateException] {
            ProbeGuard.shapeOf(keys, "spec-site")
          }
          assert(e.getMessage.contains("spec-site") &&
            e.getMessage.contains(ProbeGuard.BloomKeysKey))
        } finally spark.conf.unset(ProbeGuard.BloomKeysKey)
      } finally spark.conf.unset(ProbeGuard.PolicyKey)
    }
  }

  test("shapeOf honors onOverflow=fail-all at EVERY over-broadcast " +
      "tier — the pre-Bloom fail-fast contract for SLA tripwires") {
    import spark.implicits._
    val keys = (1 to 100).toDF("k")
    withCap("10") {
      spark.conf.set(ProbeGuard.PolicyKey, "fail-all")
      try {
        // would be the Bloom tier under 'fail' — fail-all throws first
        val e = intercept[IllegalStateException] {
          ProbeGuard.shapeOf(keys, "spec-site")
        }
        assert(e.getMessage.contains("spec-site") &&
          e.getMessage.contains("fail-all") &&
          e.getMessage.contains(ProbeGuard.ConfKey))
        // with the Bloom tier off it fails as under 'fail'
        spark.conf.set(ProbeGuard.BloomKeysKey, "0")
        try {
          val e2 = intercept[IllegalStateException] {
            ProbeGuard.tiered(keys, keys, Seq("k"), "spec-site")
          }
          assert(e2.getMessage.contains("spec-site"))
        } finally spark.conf.unset(ProbeGuard.BloomKeysKey)
      } finally spark.conf.unset(ProbeGuard.PolicyKey)
      // within the broadcast cap the policy never fires
      spark.conf.set(ProbeGuard.PolicyKey, "fail-all")
      try assert(ProbeGuard.shapeOf((1 to 5).toDF("k"), "spec-site")._1 ==
        ProbeGuard.Shape.Probe)
      finally spark.conf.unset(ProbeGuard.PolicyKey)
    }
  }

  test("shapeOf: a caller bound under the cap skips the count and picks " +
      "Probe; a bound over the cap changes nothing") {
    import spark.implicits._
    val keys = (1 to 40).map(i => s"k$i").toDF("k")
    withCap("100") {
      // bound under the cap: Probe, keyCount = the bound (no count ran
      // — the reported size is the caller's bound, not 40)
      val (s1, n1) = ProbeGuard.shapeOf(keys, "spec-site", 60L)
      assert(s1 == ProbeGuard.Shape.Probe && n1 == 60L)
    }
    withCap("10") {
      // bound over the cap proves nothing: the guard counts (40) and
      // tiers exactly as without a bound
      val (s2, n2) = ProbeGuard.shapeOf(keys, "spec-site", 60L)
      val (s3, n3) = ProbeGuard.shapeOf(keys, "spec-site")
      assert(s2 == s3 && n2 == n3 && n2 == 40L)
    }
  }

  test("tiered: the Bloom filter is superset-safe — join results are " +
      "bit-identical, and the filter really prunes the standing scan") {
    import spark.implicits._
    val standing = (1 to 5000).map(i => (s"k$i", i)).toDF("k", "v")
    val keys = (1 to 40).map(i => s"k${i * 100}").toDF("k")
    noAutoBroadcast {
      val expect = rows(standing.join(keys, Seq("k"), "left_semi"))
      withCap("10") {
        val t = ProbeGuard.tiered(standing, keys, Seq("k"), "spec-site")
        assert(t.shape == ProbeGuard.Shape.Bloom && t.keyCount == 40L)
        val got = t.standing.join(t.keys, Seq("k"), "left_semi")
        assert(rows(got) == expect)
        // the filtered scan passes the 40 true keys + ~1% fps, not 5000
        val scanned = t.standing.count()
        assert(scanned >= 40 && scanned < 500,
          s"Bloom filter should prune the standing side, kept $scanned/5000")
      }
    }
  }

  // ------------------------------------------------------- probe sites

  test("corpusFpHits: over-threshold batch degrades Bloom-then-shuffle, " +
      "results identical at every tier") {
    import spark.implicits._
    // range-backed frames: a LocalRelation would let
    // ConvertToLocalRelation fold the Bloom filter into the scan at
    // optimize time and hide it from the plan assertions
    val cfps = spark.range(1, 2001)
      .select(concat(lit("fp"), col("id")).as("_fp"))
    // one duplicate corpus row — the hit set must stay fp-distinct
    val cfpsDup = cfps.union(spark.range(7, 8)
      .select(concat(lit("fp"), col("id")).as("_fp")))
    val batch = spark.range(1, 301)
      .select(concat(lit("fp"), col("id") * 7).as("_fp"))
    noAutoBroadcast {
      val contracted = graft.apps.Curate.corpusFpHits(batch, "_fp", cfpsDup)
      assert(planOf(contracted).contains("BroadcastExchange"),
        "contracted shape must broadcast the batch keys")
      val expect = rows(contracted)
      assert(expect.distinct.size == expect.size,
        "hit set must be fingerprint-distinct even off a per-doc corpus table")
      withCap("10") {
        // Bloom tier: no broadcast, the corpus scan runs through the
        // key filter instead
        val (bl, logs) = withLogCapture {
          graft.apps.Curate.corpusFpHits(batch, "_fp", cfpsDup)
        }
        val p = planOf(bl)
        assert(!p.contains("BroadcastExchange"),
          "over-threshold batch must drop the forced hints:\n" + p)
        assert(p.contains("might_contain"),
          "Bloom tier must filter the standing scan:\n" + p)
        assert(logs.exists(m => m.contains("Curate.corpusFpHits") &&
          m.contains("bloom")), s"tier change must be logged, got: $logs")
        assert(rows(bl) == expect, "Bloom tier must not change the hit set")
      }
      withShuffleTier("10") {
        val (fb, logs) = withLogCapture {
          graft.apps.Curate.corpusFpHits(batch, "_fp", cfpsDup)
        }
        val p = planOf(fb)
        assert(!p.contains("BroadcastExchange") && !p.contains("might_contain"),
          "shuffle tier must carry neither hint nor filter:\n" + p)
        assert(logs.exists(_.contains("Curate.corpusFpHits")))
        assert(rows(fb) == expect, "fallback must not change the hit set")
      }
    }
  }

  test("lshPlanAgainst: over-threshold batch reverts to sort-merge, same pairs") {
    val docs = spark.read.parquet(sf() + "/documents.parquet")
    val batch = docs.filter("doc_id % 5 = 0")
    val corpus = docs.filter("doc_id % 5 <> 0")
    noAutoBroadcast {
      // collect-then-unpersist: a still-cached contracted result would
      // hijack the fallback run via canonicalized cache matching
      // (broadcast hints are erased there) and mask a broken fallback
      val first = graft.dedup.Dedup.lshNearDupPairsAgainst(
        batch, corpus, "doc_id", "text", minJaccard = 0.5)
      val expect = rows(first)
      first.unpersist()
      withCap("10") {
        // Bloom tier: band join AND verify fetch run through
        // might_contain filters — no broadcast, no corpus-sided
        // semi-join exchange
        val ((cachesBl, planBl), logs) = withLogCapture {
          graft.dedup.Dedup.lshPlanAgainst(batch, corpus, "doc_id", "text",
            nGram = 3, bands = 4, minJaccard = 0.5, cacheSignatures = true)
        }
        val p = planOf(planBl)
        assert(!p.contains("BroadcastExchange"),
          "over-threshold batch must drop the band AND verify-fetch hints:\n" + p)
        assert(p.contains("might_contain"),
          "Bloom tier must filter the corpus scans:\n" + p)
        assert(logs.exists(m => m.contains("Dedup.lshPlanAgainst") &&
          m.contains("bloom")), s"tier change must be logged, got: $logs")
        assert(rows(planBl) == expect, "Bloom tier must not change the pairs")
        cachesBl.foreach(_.unpersist())
      }
      withShuffleTier("10") {
        val ((cachesFb, planFb), logs) = withLogCapture {
          graft.dedup.Dedup.lshPlanAgainst(batch, corpus, "doc_id", "text",
            nGram = 3, bands = 4, minJaccard = 0.5, cacheSignatures = true)
        }
        val p = planOf(planFb)
        assert(!p.contains("BroadcastExchange"),
          "over-threshold batch must drop the band AND verify-fetch hints:\n" + p)
        assert(p.contains("Join type: LeftSemi"),
          "the semi-join verify-fetch filter must survive the fallback")
        assert(logs.exists(_.contains("Dedup.lshPlanAgainst")))
        assert(rows(planFb) == expect, "fallback must not change the pairs")
        cachesFb.foreach(_.unpersist())
      }
    }
  }

  test("hammingAbPlan (via simhash A-vs-B): fallback keeps results identical") {
    val docs = spark.read.parquet(sf() + "/documents.parquet")
    val batch = docs.filter("doc_id % 2 = 1")
    val corpus = docs.filter("doc_id % 2 = 0")
    def run(): DataFrame = graft.dedup.Dedup.simhashNearDupPairsAgainst(
      batch, corpus, "doc_id", "text", maxHamming = 3)
    noAutoBroadcast {
      val first = run()
      val expect = rows(first)
      first.unpersist() // see the lshPlanAgainst cache-hijack note
      withCap("10") {
        val (bl, logs) = withLogCapture(run())
        assert(logs.exists(m => m.contains("simhashNearDupPairsAgainst") &&
          m.contains("bloom")),
          s"Bloom tier must name the operator, got: $logs")
        assert(rows(bl) == expect, "Bloom tier must not change the pairs")
        bl.unpersist()
      }
      withShuffleTier("10") {
        val (fb, logs) = withLogCapture(run())
        assert(logs.exists(_.contains("simhashNearDupPairsAgainst")),
          s"fallback must name the operator, got: $logs")
        assert(rows(fb) == expect, "fallback must not change the pairs")
        fb.unpersist()
      }
      // the uncached form exposes the plan: no forced hint above cap,
      // Bloom filter on the corpus band scan
      withCap("10") {
        val p = planOf(graft.dedup.Dedup.simhashNearDupPairsAgainst(
          batch, corpus, "doc_id", "text", maxHamming = 3,
          cacheSignatures = false))
        assert(!p.contains("BroadcastExchange"),
          "over-threshold batch bands must not broadcast:\n" + p)
        assert(p.contains("might_contain"),
          "Bloom tier must filter the corpus band scan:\n" + p)
      }
      withShuffleTier("10") {
        val p = planOf(graft.dedup.Dedup.simhashNearDupPairsAgainst(
          batch, corpus, "doc_id", "text", maxHamming = 3,
          cacheSignatures = false))
        assert(!p.contains("BroadcastExchange") && !p.contains("might_contain"),
          "shuffle tier must carry neither hint nor filter:\n" + p)
      }
    }
  }

  test("fuzzyJoinAgainst: guard picks sort-merge for an over-cap A side") {
    import spark.implicits._
    val a = Seq((1L, "acme corp"), (2L, "globex inc"), (3L, "initech llc"))
      .toDF("id_a", "s")
    val b = Seq((10L, "acme corpz"), (20L, "globexx inc"), (30L, "unrelated co"))
      .toDF("id_b", "s")
    noAutoBroadcast {
      val expect = rows(graft.dedup.Fuzzy.fuzzyJoinAgainst(
        a, b, "id_a", "s", "id_b", "s", maxDist = 2))
      withCap("2") {
        // Bloom tier: corpus key index and string fetch filtered
        val (bl, logs) = withLogCapture {
          graft.dedup.Fuzzy.fuzzyJoinAgainst(
            a, b, "id_a", "s", "id_b", "s", maxDist = 2)
        }
        val p = planOf(bl)
        assert(!p.contains("BroadcastExchange"),
          "over-cap A side must drop the forced hints:\n" + p)
        assert(p.contains("might_contain"),
          "Bloom tier must filter the corpus scans:\n" + p)
        assert(logs.exists(m => m.contains("Fuzzy.fuzzyJoinAgainst") &&
          m.contains("bloom")))
        assert(rows(bl) == expect, "Bloom tier must not change the matches")
      }
      withShuffleTier("2") {
        val (fb, logs) = withLogCapture {
          graft.dedup.Fuzzy.fuzzyJoinAgainst(
            a, b, "id_a", "s", "id_b", "s", maxDist = 2)
        }
        assert(!planOf(fb).contains("BroadcastExchange"),
          "over-cap A side must take the symmetric shape:\n" + planOf(fb))
        assert(logs.exists(_.contains("Fuzzy.fuzzyJoinAgainst")))
        assert(rows(fb) == expect, "fallback must not change the matches")
      }
      // probeScale=false skips the probe shape (and the guard count)
      val (off, logs) = withLogCapture {
        graft.dedup.Fuzzy.fuzzyJoinAgainst(
          a, b, "id_a", "s", "id_b", "s", maxDist = 2, probeScale = false)
      }
      assert(logs.isEmpty, "probeScale=false must not consult the guard")
      assert(rows(off) == expect)
    }
  }

  test("decontaminate: a corpus-sized 'benchmark' gram set falls back " +
      "instead of force-broadcasting") {
    val docs = spark.read.parquet(sf() + "/documents.parquet")
    val corpus = docs.filter("doc_id % 3 <> 0")
    val bench = docs.filter("doc_id % 3 = 0")
    def run(): Seq[String] = rows(graft.text.Decontaminate.decontaminate(
      corpus, bench, "doc_id", "text", 5).select(col("doc_id")))
    noAutoBroadcast {
      val expect = run()
      withCap("10") {
        val (bl, logs) = withLogCapture {
          graft.text.Decontaminate.decontaminate(
            corpus, bench, "doc_id", "text", 5).select(col("doc_id"))
        }
        val p = planOf(bl)
        assert(!p.contains("BroadcastExchange"),
          "over-cap gram set must not broadcast:\n" + p)
        assert(p.contains("might_contain"),
          "Bloom tier must filter the corpus shingle scan:\n" + p)
        assert(logs.exists(m => m.contains("Decontaminate.benchGrams") &&
          m.contains("bloom")))
        assert(rows(bl) == expect, "Bloom tier must not change the clean set")
      }
      withShuffleTier("10") {
        val (fb, logs) = withLogCapture {
          graft.text.Decontaminate.decontaminate(
            corpus, bench, "doc_id", "text", 5).select(col("doc_id"))
        }
        assert(!planOf(fb).contains("BroadcastExchange"),
          "over-cap gram set must not broadcast:\n" + planOf(fb))
        assert(logs.exists(_.contains("Decontaminate.benchGrams")))
        assert(rows(fb) == expect, "fallback must not change the clean set")
      }
    }
  }

  test("text A-vs-B forms (gram-count join, lines-against, spans-against): " +
      "every tier is value-identical, Bloom tier filters the corpus scan") {
    val docs = spark.read.parquet(sf() + "/documents.parquet")
      .select(col("doc_id"), col("text"))
    val batch = docs.filter("doc_id % 5 = 0")
    val corpus = docs.filter("doc_id % 5 <> 0")
    val counts = graft.text.SpanDedup.gramDocCounts(corpus, "doc_id", "text", 4)
    def runs(): Seq[(String, DataFrame)] = Seq(
      "gramCountJoin" -> graft.text.SpanDedup.removeDuplicatedSpansWithCounts(
        batch, counts, "doc_id", "text", n = 4, minDocs = 2),
      "linesAgainst" -> graft.text.LineDedup.removeDuplicatedLinesAgainst(
        batch, corpus, "doc_id", "text", sep = " "),
      "spansAgainst" -> graft.text.SpanDedup.removeDuplicatedSpansAgainst(
        batch, corpus, "doc_id", "text", n = 6))
    noAutoBroadcast {
      // probe tier (default): the batch key set is FORCE-broadcast —
      // auto-broadcast is off, so any BroadcastExchange is the hint.
      // For the counts join this replaces the old AQE-maybe shape; the
      // pin keeps the corpus artifact off the exchange in the
      // contracted regime
      runs().foreach { case (tag, df) =>
        assert(planOf(df).contains("BroadcastExchange"),
          s"$tag: probe tier must broadcast the batch keys:\n" + planOf(df))
      }
      val expect = runs().map { case (tag, df) => tag -> rows(df) }.toMap
      withCap("5") {
        val (bl, logs) = withLogCapture(runs())
        bl.foreach { case (tag, df) =>
          assert(planOf(df).contains("might_contain"),
            s"$tag: Bloom tier must filter the corpus scan:\n" + planOf(df))
          assert(rows(df) == expect(tag), s"$tag: Bloom tier changed results")
        }
        assert(logs.exists(_.contains("bloom")), s"got: $logs")
      }
      withShuffleTier("5") {
        runs().foreach { case (tag, df) =>
          val p = planOf(df)
          assert(!p.contains("might_contain") && !p.contains("BroadcastExchange"),
            s"$tag: shuffle tier must carry neither hint nor filter:\n" + p)
          assert(rows(df) == expect(tag), s"$tag: shuffle tier changed results")
        }
      }
    }
  }

  test("resolveBatch threads probeScale to both internal fuzzy joins") {
    import spark.implicits._
    val master = Seq((100L, "acme corp"), (200L, "globex inc"))
      .toDF("m_id", "name")
    val batch = Seq((1L, "acme corpz"), (2L, "stark industries"),
      (3L, "stark industriez"), (4L, "wayne enterprises"))
      .toDF("b_id", "name")
    def run(ps: Boolean): Seq[String] = {
      val r = graft.dedup.EntityResolve.resolveBatch(batch, master,
        "b_id", "name", "m_id", "name", maxDist = 2, probeScale = ps)
      val out = rows(r)
      graft.ops.StageCut.release(r)
      out
    }
    val probe = run(ps = true)
    val (symmetric, logs) = withLogCapture(run(ps = false))
    assert(logs.isEmpty, "probeScale=false must skip the guard entirely")
    assert(symmetric == probe,
      "assignment semantics must not depend on the join shape")
  }
}
