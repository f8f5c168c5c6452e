package graft.dedup

import graft.SparkSpec

class ClusterSpec extends SparkSpec {
  import spark.implicits._

  test("dupClusters: transitive chain collapses to one component") {
    // 1-2, 2-3, 3-4 chain + isolated pair 10-11
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("id_a", "id_b")
    val got = Dedup.dupClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L))
  }

  test("dupClusters: diameter > 2 converges (long path, reversed labels)") {
    // path 9-8-7-6-5: min label must walk the whole path
    val pairs = Seq((8L, 9L), (7L, 8L), (6L, 7L), (5L, 6L)).toDF("id_a", "id_b")
    val got = Dedup.dupClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.values.toSet == Set(5L))
    assert(got.keySet == Set(5L, 6L, 7L, 8L, 9L))
  }

  test("dupClusters: double-sweep fixpoint equals driver union-find on a mixed graph") {
    // the r20 two-sweeps-per-round unroll (fixpoint read off the
    // second sweep) against an independent union-find: stars, a long
    // chain in label-descending order, a cycle, and cross links
    val pairs = Seq(
      (100L, 1L), (100L, 2L), (100L, 3L), (100L, 4L), // star, hub NOT min
      (20L, 21L), (21L, 22L), (22L, 23L), (23L, 24L), (24L, 25L),
      (31L, 30L), (32L, 31L), (33L, 32L), (34L, 33L), // descending chain
      (40L, 41L), (41L, 42L), (42L, 40L),             // cycle
      (25L, 33L),                                     // bridges two chains
      (50L, 50L))                                     // self loop
    val expected = {
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      parent.keys.map(k => k -> find(k)).toMap
    }
    val got = Dedup.dupClusters(pairs.toDF("id_a", "id_b")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected)
  }

  test("dupClusters: driver union-find tier == distributed min-propagation loop") {
    // r21: below spark.graft.clusters.localMaxEdges the component
    // fixpoint comes from a driver union-find over the materialized
    // edge list. Pin tier ≡ tier on the mixed graph (stars with a
    // non-min hub, descending chain, cycle, bridge, self loop) by
    // forcing the distributed path with the knob at 0.
    val pairs = Seq(
      (100L, 1L), (100L, 2L), (100L, 3L), (100L, 4L),
      (20L, 21L), (21L, 22L), (22L, 23L), (23L, 24L), (24L, 25L),
      (31L, 30L), (32L, 31L), (33L, 32L), (34L, 33L),
      (40L, 41L), (41L, 42L), (42L, 40L),
      (25L, 33L), (50L, 50L)).toDF("id_a", "id_b")
    val driver = Dedup.dupClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toSeq.sorted
    spark.conf.set("spark.graft.clusters.localMaxEdges", "0")
    try {
      val dist = Dedup.dupClusters(pairs).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toSeq.sorted
      assert(driver == dist)
    } finally spark.conf.unset("spark.graft.clusters.localMaxEdges")
  }

  test("dupClusters: driver union-find tier == distributed loop on " +
      "negative, extreme and null ids") {
    // the driver tier unions over sorted-id indices, so the smallest
    // signed id must stay each component's label; a null id sends the
    // call to the distributed loop (whose joins drop it)
    val extreme = Seq[(java.lang.Long, java.lang.Long)]((5L, -3L),
      (-3L, Long.MinValue), (Long.MaxValue, 0L), (1L << 40, -(1L << 40)),
      (7L, 7L))
    val withNull = Seq[(java.lang.Long, java.lang.Long)]((1L, 2L),
      (2L, null), (null, 3L), (0L, 4L))
    for (graph <- Seq(extreme, withNull)) {
      val pairs = graph.toDF("id_a", "id_b")
      def run() = Dedup.dupClusters(pairs).collect()
        .map(r => (r.get(0), r.get(1))).toSeq.sortBy(_.toString)
      val driver = run()
      spark.conf.set("spark.graft.clusters.localMaxEdges", "0")
      try assert(driver == run())
      finally spark.conf.unset("spark.graft.clusters.localMaxEdges")
    }
    assert(Dedup.dupClusters(extreme.toDF("id_a", "id_b")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap.apply(5L) == Long.MinValue)
  }

  test("dupClusters: driver tier preserves a non-long integral id type") {
    // int ids must come back as ints from BOTH tiers (the driver tier
    // collects through a long cast and must cast back)
    val pairs = Seq((7, 8), (8, 9), (30, 31)).toDF("id_a", "id_b")
    val got = Dedup.dupClusters(pairs)
    assert(got.schema("id").dataType ==
      org.apache.spark.sql.types.IntegerType)
    assert(got.schema("cluster").dataType ==
      org.apache.spark.sql.types.IntegerType)
    val m = got.collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    assert(m == Map(7 -> 7, 8 -> 7, 9 -> 7, 30 -> 30, 31 -> 30))
  }

  test("dupClusters: reliable-checkpoint mode (checkpoint dir set) matches the local path") {
    // the fault-tolerance knob for real clusters: with a checkpoint dir
    // configured the loop uses replicated, recompute-free checkpoint()
    // instead of executor-local localCheckpoint(); results must be
    // IDENTICAL — only the materialization medium changes
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (20L, 21L))
      .toDF("id_a", "id_b")
    val local = Dedup.dupClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toFile
    val sc = spark.sparkContext
    assert(sc.getCheckpointDir.isEmpty, "suite assumes no global checkpoint dir")
    sc.setCheckpointDir(dir.getAbsolutePath)
    try {
      val reliable = Dedup.dupClusters(pairs).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(reliable == local)
      // the mode really engaged AND superseded rounds were cleaned up:
      // only the final round's snapshot may remain on disk
      val walk = java.nio.file.Files.walk(dir.toPath)
      val (files, rounds) =
        try {
          val paths = scala.jdk.CollectionConverters
            .IteratorHasAsScala(walk.iterator()).asScala.toVector
          (paths.count(java.nio.file.Files.isRegularFile(_)),
            paths.count(p => java.nio.file.Files.isDirectory(p)
              && p.getFileName.toString.startsWith("round-")))
        } finally walk.close()
      assert(files > 0, "reliable mode must write snapshot files")
      assert(rounds == 1,
        s"superseded round snapshots must be deleted, found $rounds")
    } finally {
      // restore the no-checkpoint-dir default for the rest of the JVM
      // (checkpointDir is private[spark] — public in bytecode)
      sc.getClass.getMethod("checkpointDir_$eq", classOf[Option[String]])
        .invoke(sc, None)
      org.apache.commons.io.FileUtils.deleteQuietly(dir)
    }
  }

  test("withReliableCuts: cluster snapshots and cut files go on exit, dir restored") {
    val pairs1 = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val pairs2 = Seq((7L, 8L), (8L, 9L), (30L, 31L)).toDF("id_a", "id_b")
    val dir = java.nio.file.Files.createTempDirectory("graft-scope").toFile
    val sc = spark.sparkContext
    assert(sc.getCheckpointDir.isEmpty, "suite assumes no global checkpoint dir")
    def entries(prefix: String): Int = {
      val walk = java.nio.file.Files.walk(dir.toPath)
      try scala.jdk.CollectionConverters.IteratorHasAsScala(walk.iterator())
        .asScala.count(_.getFileName.toString.startsWith(prefix))
      finally walk.close()
    }
    try {
      val (got1, got2) = graft.ops.StageCut.withReliableCuts(spark,
          dir.getAbsolutePath) {
        // materialize INSIDE the scope — the files backing these
        // frames are deleted at scope exit
        val a = Dedup.dupClusters(pairs1).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        val cut = graft.ops.StageCut(Dedup.dupClusters(pairs2))
        val b = cut.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(sc.getCheckpointDir.isDefined, "scope must set the dir")
        assert(entries("graft-dup-clusters-") > 0 && entries("rdd-") > 0,
          "inside the scope clustering and cuts must both write files")
        (a, b)
      }
      assert(got1 == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
      assert(got2 == Map(7L -> 7L, 8L -> 7L, 9L -> 7L, 30L -> 30L, 31L -> 30L))
      assert(sc.getCheckpointDir.isEmpty, "scope must restore the previous config")
      // no snapshot or checkpoint file may survive the scope
      val left = (entries("graft-dup-clusters-"), entries("rdd-"))
      assert(left == (0, 0), s"files accumulated (snapshots, cuts): $left")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(dir)
  }
}
