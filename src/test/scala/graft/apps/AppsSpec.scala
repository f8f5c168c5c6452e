package graft.apps

import graft.SparkSpec
import graft.io.Uploader
import org.apache.spark.sql.functions._

class DbCopySpec extends SparkSpec {
  import spark.implicits._

  test("topoOrder places FK targets before referrers") {
    val order = DbCopy.topoOrder(Map(
      "ORDERS" -> Set("CUSTOMER"),
      "LINEITEM" -> Set("ORDERS", "PART"),
      "CUSTOMER" -> Set("NATION"),
      "NATION" -> Set.empty[String],
      "PART" -> Set.empty[String]))
    def pos(t: String) = order.indexOf(t)
    assert(order.toSet == Set("ORDERS", "LINEITEM", "CUSTOMER", "NATION", "PART"))
    assert(pos("NATION") < pos("CUSTOMER"))
    assert(pos("CUSTOMER") < pos("ORDERS"))
    assert(pos("ORDERS") < pos("LINEITEM"))
    assert(pos("PART") < pos("LINEITEM"))
  }

  test("topoOrder survives cycles and self-references") {
    val order = DbCopy.topoOrder(Map(
      "A" -> Set("B"), "B" -> Set("A"), "C" -> Set("C")))
    assert(order.toSet == Set("A", "B", "C"))
    assert(order.contains("C"))
  }

  test("reconcile classifies table sets") {
    val r = DbCopy.reconcile(Set("A", "B", "C"), Set("B", "C", "D"), Set("C"))
    assert(r.common == Seq("B"))
    assert(r.missingInTarget == Seq("A"))
    assert(r.noSource == Seq("D"))
    assert(r.ignored == Seq("C"))
  }

  test("plan modes produce the right change sets") {
    val src = Seq((1, "new"), (2, "upd")).toDF("pk", "v")
    val trg = Seq((2, "old"), (3, "orphan")).toDF("pk", "v")
    val ins = DbCopy.plan(src, trg, "pk", DbCopy.Insert)
    assert(ins.toInsert.select("pk").as[Int].collect().toSeq == Seq(1))
    assert(ins.toUpdate.isEmpty && ins.toDelete.isEmpty)
    val sync = DbCopy.plan(src, trg, "pk", DbCopy.Sync)
    assert(sync.toUpdate.get.select("pk").as[Int].collect().toSeq == Seq(2))
    assert(sync.toDelete.get.select("pk").as[Int].collect().toSeq == Seq(3))
  }

  test("fastNewRows filters beyond target max pk (and handles empty target)") {
    val src = Seq(1, 2, 3, 4).toDF("pk")
    val trg = Seq(1, 2).toDF("pk")
    assert(DbCopy.fastNewRows(src, trg, "pk").as[Int].collect().toSet == Set(3, 4))
    val empty = Seq.empty[Int].toDF("pk")
    assert(DbCopy.fastNewRows(src, empty, "pk").count() == 4)
  }
}

class TableCardinalitySpec extends SparkSpec {
  import spark.implicits._

  test("summary counts non-null and distinct per column") {
    val df = Seq(("a", 1), ("a", 2), ("b", 2)).toDF("s", "n")
    val got = TableCardinality.summary(df, exact = true).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got("s") == (3L, 2L))
    assert(got("n") == (3L, 2L))
  }

  test("report writes a multi-sheet workbook") {
    val df = Seq(("a", 1), ("a", 1), ("b", 2)).toDF("s", "n")
    val p = java.nio.file.Files.createTempFile("graft", ".xlsx").toString
    TableCardinality.report(df, p, exact = true)
    val summary = graft.io.Xlsx.read(spark, p, Some("Summary"))
    assert(summary.columns.toSeq == Seq("COLUMN", "N_NONNULL", "N_DISTINCT"))
    val sSheet = graft.io.Xlsx.read(spark, p, Some("s"))
    // 'a' appears twice → profiled
    assert(sSheet.collect().map(r => (r.getString(0), r.getString(1))).toSeq ==
      Seq(("a", "2")))
  }
}

class SqlQuerySpec extends SparkSpec {
  test("script → csv output end to end") {
    graft.Tables.registerAll(spark, sf())
    val p = java.nio.file.Files.createTempFile("graft", ".csv").toString
    val stmts = SqlQuery.run(spark,
      "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey;",
      SqlQuery.Csv, p)
    assert(stmts.length == 1)
    val lines = scala.io.Source.fromFile(p).getLines().toSeq
    assert(lines.head == "r_regionkey;r_name")
    assert(lines.length == 6) // header + 5 regions
  }

  test("script → sql-insert output") {
    graft.Tables.registerAll(spark, sf())
    val p = java.nio.file.Files.createTempFile("graft", ".sql").toString
    SqlQuery.run(spark, "SELECT r_regionkey FROM region ORDER BY 1;",
      SqlQuery.SqlInsert("REGION"), p)
    val lines = scala.io.Source.fromFile(p).getLines().toSeq
    assert(lines.head == "INSERT INTO REGION (R_REGIONKEY) VALUES (0)")
    assert(lines.length == 5)
  }
}

class UploaderSpec extends SparkSpec {
  import spark.implicits._

  test("pipe mode emits statements; dryrun counts; rollback refuses") {
    val df = Seq((1, "a")).toDF("ID", "V")
    val piped = Uploader.insert(df, "T", Uploader.Pipe)
    assert(piped.sql.get.as[String].collect().head ==
      "INSERT INTO T (ID,V) VALUES (1,'a')")
    assert(Uploader.insert(df, "T", Uploader.DryRun).rows == 1L)
    intercept[UnsupportedOperationException] {
      Uploader.insert(df, "T", Uploader.Rollback)
    }
  }

  test("assignPk continues from the probed base") {
    val existing = Seq(10L, 42L).toDF("pk")
    val base = Uploader.pkBase(existing, "pk")
    assert(base == 42L)
    val incoming = Seq("x", "y").toDF("v")
    val got = Uploader.assignPk(incoming, "pk", base, Seq("v"))
      .select("pk").as[Long].collect().toSeq
    assert(got == Seq(43L, 44L))
  }

  test("pkBase of an empty frame is 0") {
    assert(Uploader.pkBase(Seq.empty[Long].toDF("pk"), "pk") == 0L)
  }

  test("assignPk stays distributed: contiguous ids over a parallel sort") {
    // the old shape (Window.orderBy with no partitionBy) pulled every row
    // through ONE task; the range-sort + zipWithIndex shape must keep
    // multiple partitions while producing the same contiguous sequence
    val n = 1000
    val incoming = spark.range(n).select(
      (col("id") * 37 % n).as("sortkey")).repartition(8)
    // AQE coalesces the tiny test shuffle to 1 partition — disable it here
    // so the assertion sees the shape a real-size input would have
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val got = Uploader.assignPk(incoming, "pk", 100L, Seq("sortkey"))
      assert(got.rdd.getNumPartitions > 1, "pk assignment must not serialize to one task")
      val rows = got.orderBy("pk").collect()
      assert(rows.map(_.getLong(1)).toSeq == (101L to 100L + n))
      // ids must follow the sort order
      assert(rows.map(_.getLong(0)).toSeq == rows.map(_.getLong(0)).sorted.toSeq)
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }
}

class RuntimeStatsSpec extends SparkSpec {
  test("collects per-tag execution counts and durations") {
    val stats = graft.ops.RuntimeStats.install(spark)
    spark.conf.set("spark.graft.stats.tag", "t1")
    import spark.implicits._
    Seq(1, 2, 3).toDF("v").count()
    // listener delivery is async; poll briefly
    var rep = Map.empty[String, Long]
    val deadline = System.nanoTime() + 10e9.toLong
    while (!rep.contains("t1") && System.nanoTime() < deadline) {
      Thread.sleep(100)
      rep = stats.report().map(t => t._1 -> t._2).toMap
    }
    assert(rep.contains("t1"))
    assert(rep("t1") >= 1L)
    spark.listenerManager.unregister(stats)
  }
}
