package perfbench

import graft.apps.{DbCopy, DbCopyMain, SqlQuery}
import graft.io.{Config, SqlRender, Uploader}
import graft.ops.Relational
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

/** etl-sync: lwetl's own traffic. Build is the first db-copy of seeded
  * TPC-H-ish tables into an empty embedded Derby database (tables
  * created with their primary keys, no rows); each serve
  * round plants a seeded change set in the target, syncs the target
  * back to the source with db-copy (DbCopy.topoOrder + applyJdbc in
  * Sync mode) and exports one synced table with sql-query. */
object EtlSync extends Workload {

  /** Rows taken from each sf0.1 table (seeded choice, exact counts). */
  val Sizes: Seq[(String, Int)] = Seq("nation" -> 25, "customer" -> 400)
  val ExportTable = "customer"
  /** Planted per table and round: this share of the table's rows is
    * deleted, as many rows are updated and as many new rows inserted. */
  val PlantShare = 0.02
  val buildReps = 3
  val warmupReps = 1
  val serveReps = 3

  final case class Src(name: String, table: String, pks: Seq[String],
                       cols: Seq[String], types: Seq[DataType],
                       rows: Seq[Seq[Any]], digest: Check.Digest)

  private var srcs: Seq[Src] = Nil
  private var target: Config.Resolved = _
  private var planted: Map[String, Int] = Map.empty
  private var statements = 0L
  private var exportBytes = 0L

  private def order: Seq[String] = {
    val wanted = Sizes.map(_._1).toSet
    DbCopy.topoOrder(DbCopyMain.References).filter(wanted)
  }

  private def derby(ctx: Ctx, name: String): Config.Resolved = {
    val url = s"jdbc:derby:${ctx.path(s"derby/$name")};create=true"
    Config.Resolved(None, None, "derby", None, url, escape = false)
  }

  private def shutdown(r: Config.Resolved): Unit = {
    val url = r.url.stripSuffix(";create=true") + ";shutdown=true"
    try java.sql.DriverManager.getConnection(url).close()
    catch { case _: java.sql.SQLException => () } // Derby signals shutdown by throwing
  }

  private def rm(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
  }

  def prepare(ctx: Ctx): Unit = {
    val spark = ctx.spark
    srcs = order.map { t =>
      val n = Sizes.toMap.apply(t)
      val pk = DbCopyMain.Pks(t).head
      val picked = graft.Tables.load(spark, ctx.sfDir, t)
        .orderBy(xxhash64(lit(ctx.seed), col(pk)), col(pk)).limit(n)
      val path = ctx.path(s"src/$t")
      Relational.upperCaseColumns(picked).write.mode("overwrite").parquet(path)
      val df = spark.read.parquet(path)
      val rows = df.collect().toSeq.map(_.toSeq)
      Src(t, t.toUpperCase, DbCopyMain.Pks(t).map(_.toUpperCase),
        df.columns.toSeq, df.schema.fields.map(_.dataType).toSeq,
        rows, Check.digest(rows.iterator))
    }
  }

  /** The empty target: every table created with its primary key, as
    * lwetl's db-copy expects of a target (it copies into existing
    * tables). Strings become VARCHAR, numbers keep their width. */
  private def createSchema(r: Config.Resolved, tables: Seq[Src]): Unit = {
    val conn = java.sql.DriverManager.getConnection(r.url)
    try tables.foreach { s =>
      val cols = s.cols.zip(s.types).map { case (c, t) =>
        val sqlType = t match {
          case IntegerType => "INTEGER"
          case LongType => "BIGINT"
          case DoubleType => "DOUBLE"
          case _ => "VARCHAR(512)"
        }
        s"$c $sqlType" + (if (s.pks.contains(c)) " NOT NULL" else "")
      }
      conn.createStatement().executeUpdate(
        s"CREATE TABLE ${s.table} (${cols.mkString(", ")}, PRIMARY KEY (${s.pks.mkString(", ")}))")
    } finally conn.close()
  }

  private def source(ctx: Ctx, s: Src): DataFrame = ctx.spark.read.parquet(ctx.path(s"src/${s.name}"))

  /** DbCopy.applyJdbc in Sync mode. The traced run performs the same
    * steps itself (the target tables always exist, so the sync branch),
    * each inside its own span with its output materialized there, so
    * every layer gets its own wall time. */
  private def apply(ctx: Ctx, s: Src, r: Config.Resolved, phase: String): DbCopy.ApplyResult = {
    val df = source(ctx, s)
    if (!ctx.tracer.enabled)
      return DbCopy.applyJdbc(ctx.spark, df, r, s.table, s.pks, DbCopy.Sync,
        SqlRender.Ansi, skipUnchanged = false)
    val t = ctx.tracer
    val pkCols = s.pks.map(col)
    def held(d: DataFrame): DataFrame = { val p = d.persist(StorageLevel.MEMORY_AND_DISK); p.count(); p }
    val trgPk = t.span(s"$phase.config.read")(
      held(Config.readJdbc(ctx.spark, r, s.table).select(pkCols: _*)))
    val nBefore = trgPk.count()
    val (existing, orphans, fresh) = t.span(s"$phase.relational.diff")((
      held(df.join(trgPk, s.pks, "left_semi")),
      held(trgPk.join(df.select(pkCols: _*), s.pks, "left_anti")),
      held(df.join(trgPk, s.pks, "left_anti"))))
    val (upd, del) = t.span(s"$phase.sqlrender.render")((
      held(SqlRender.updateStatements(existing.repartitionByRange(pkCols: _*),
        s.table, s.pks, SqlRender.Ansi)),
      held(SqlRender.deleteStatements(orphans.repartitionByRange(pkCols: _*),
        s.table, s.pks, SqlRender.Ansi))))
    val (nu, nd) = t.span(s"$phase.uploader.exec")(
      (Uploader.executeJdbc(upd, r), Uploader.executeJdbc(del, r)))
    if (t.active) statements += nu + nd
    t.span(s"$phase.config.write")(Config.writeJdbc(fresh, r, s.table))
    val nFinal = t.span(s"$phase.config.read")(Config.readJdbc(ctx.spark, r, s.table).count())
    Seq(trgPk, existing, orphans, fresh, upd, del).foreach(_.unpersist())
    DbCopy.ApplyResult(nFinal - nBefore + nd, nu, nd)
  }

  /** The target must equal the source, table by table, under the
    * benchmark's own digest; the apply counts must be the planted ones. */
  private def verify(r: Config.Resolved, results: Map[String, DbCopy.ApplyResult],
                     plant: Map[String, Int], tables: Seq[Src]): Seq[String] =
    tables.flatMap { s =>
      val got = Check.digest(Check.jdbcRows(r.url, s.table, s.cols).iterator)
      val res = results(s.name)
      val k = plant.getOrElse(s.name, -1)
      val want =
        if (k < 0) DbCopy.ApplyResult(s.rows.length.toLong, 0L, 0L)
        else DbCopy.ApplyResult(k.toLong, (s.rows.length - k).toLong, k.toLong)
      (if (got != s.digest) Seq(s"${s.name}: target digest $got != source ${s.digest}") else Nil) ++
        (if (res != want) Seq(s"${s.name}: applied $res, expected $want") else Nil)
    }

  def build(ctx: Ctx, rep: Int): Outcome = {
    val r = derby(ctx, s"b$rep")
    createSchema(r, srcs)
    val results = order.map(t => t -> apply(ctx, srcs.find(_.name == t).get, r, "build")).toMap
    target = r
    Outcome(srcs.map(_.rows.length.toLong).sum, () => {
      val p = verify(r, results, Map.empty, srcs)
      if (rep < buildReps - 1) { shutdown(r); rm(new java.io.File(ctx.path(s"derby/b$rep"))) }
      p
    })
  }

  /** Plant the round's change set through plain java.sql: delete k
    * rows, update k others, insert k rows with fresh keys. */
  private def plant(ctx: Ctx, r: Config.Resolved, tables: Seq[Src], round: Int): Map[String, Int] = {
    val rnd = ctx.rng(1000 + round)
    val conn = java.sql.DriverManager.getConnection(r.url)
    try {
      conn.setAutoCommit(false)
      val out = tables.map { s =>
        val n = s.rows.length
        val k = math.max(1, math.round(n * PlantShare).toInt)
        val pkIdx = s.cols.indexOf(s.pks.head)
        val picks = scala.util.Random.javaRandomToRandom(rnd).shuffle((0 until n).toVector).take(2 * k)
        val del = conn.prepareStatement(s"DELETE FROM ${s.table} WHERE ${s.pks.head} = ?")
        picks.take(k).foreach { i => del.setObject(1, s.rows(i)(pkIdx)); del.addBatch() }
        del.executeBatch()
        val strCol = s.cols.indices.find(j => j != pkIdx && s.types(j) == StringType).get
        val upd = conn.prepareStatement(
          s"UPDATE ${s.table} SET ${s.cols(strCol)} = ? WHERE ${s.pks.head} = ?")
        picks.drop(k).zipWithIndex.foreach { case (i, j) =>
          upd.setString(1, s"planted $round $j"); upd.setObject(2, s.rows(i)(pkIdx)); upd.addBatch()
        }
        upd.executeBatch()
        val maxKey = s.rows.map(_(pkIdx).asInstanceOf[Number].longValue).max
        val ins = conn.prepareStatement(
          s"INSERT INTO ${s.table} (${s.cols.mkString(", ")}) VALUES (${s.cols.map(_ => "?").mkString(", ")})")
        (0 until k).foreach { j =>
          val donor = s.rows(rnd.nextInt(n))
          s.cols.indices.foreach { c =>
            val v: Any =
              if (c == pkIdx) s.types(c) match {
                case IntegerType => Int.box((maxKey + 1 + j).toInt)
                case _ => Long.box(maxKey + 1 + j)
              } else donor(c)
            ins.setObject(c + 1, v.asInstanceOf[AnyRef])
          }
          ins.addBatch()
        }
        ins.executeBatch()
        s.name -> k
      }
      conn.commit()
      out.toMap
    } finally conn.close()
  }

  /** sql-query export of one synced table, read live from the target. */
  private def export(ctx: Ctx, r: Config.Resolved, s: Src, phase: String, file: String): Unit =
    ctx.tracer.span(s"$phase.sinks.export") {
      Config.readJdbc(ctx.spark, r, s.table).createOrReplaceTempView("perfbench_export")
      SqlQuery.run(ctx.spark, "SELECT * FROM perfbench_export", SqlQuery.Csv, file)
    }

  /** The export read back: header, row count and digest must match. */
  private def verifyExport(s: Src, file: String): Seq[String] = {
    val lines = scala.io.Source.fromFile(file, "UTF-8")
    val all = try lines.getLines().toVector finally lines.close()
    val header = all.headOption.map(Check.csvFields(_)).getOrElse(Nil)
    if (header.toSet != s.cols.toSet) return Seq(s"export header $header != ${s.cols}")
    val idx = s.cols.map(header.indexOf(_))
    val rows = all.tail.iterator.map { l =>
      val f = Check.csvFields(l)
      idx.zip(s.types).map { case (i, t) =>
        val v = f(i)
        t match {
          case _ if v.isEmpty && t != StringType => null
          case IntegerType | LongType => java.lang.Long.valueOf(v.toLong)
          case DoubleType => java.lang.Double.valueOf(v.toDouble)
          case _ => v
        }
      }
    }
    val d = Check.digest(rows)
    if (d != s.digest) Seq(s"export digest $d != source ${s.digest}") else Nil
  }

  override def beforeServe(ctx: Ctx, rep: Int): Unit =
    planted = plant(ctx, target, srcs, rep)

  def serve(ctx: Ctx, rep: Int): Outcome = {
    val r = target
    val plantNow = planted
    val results = order.map(t => t -> apply(ctx, srcs.find(_.name == t).get, r, "serve")).toMap
    val ex = srcs.find(_.name == ExportTable).get
    val file = ctx.path("export.csv")
    export(ctx, r, ex, "serve", file)
    if (ctx.tracer.active) exportBytes += new java.io.File(file).length
    Outcome(srcs.map(_.rows.length.toLong).sum,
      () => verify(r, results, plantNow, srcs) ++ verifyExport(ex, file))
  }

  override def layerMetrics(ctx: Ctx, serveReps: Int): Seq[(String, Double, String)] = Seq(
    ("serve.uploader.statements", statements.toDouble / serveReps, "count"),
    ("serve.sinks.export_mb", exportBytes / 1e6 / serveReps, "MB"))

  /** Corrupt the target or the export and confirm the checks reject it. */
  def selfTest(ctx: Ctx): Seq[(String, Boolean)] = {
    val r = derby(ctx, "selftest")
    val tables = srcs.filter(s => s.name == "nation" || s.name == ExportTable)
    createSchema(r, tables)
    val built = tables.map(s => s.name -> apply(ctx, s, r, "build")).toMap
    val clean = verify(r, built, Map.empty, tables).isEmpty
    val nation = tables.head
    def exec(sql: String): Unit = {
      val c = java.sql.DriverManager.getConnection(r.url)
      try c.createStatement().executeUpdate(sql) finally c.close(); ()
    }
    // one row dropped from the target
    exec(s"DELETE FROM ${nation.table} WHERE ${nation.pks.head} = 3")
    val dropped = verify(r, built, Map.empty, tables).nonEmpty
    // the reported counts disagree with what was planted
    val planted1 = plant(ctx, r, tables, 0)
    val res = tables.map(s => s.name -> apply(ctx, s, r, "serve")).toMap
    val wrongCounts = verify(r, res, planted1.map { case (k, v) => k -> (v + 1) }, tables).nonEmpty
    // one id swapped in the export
    val ex = tables.last
    val file = ctx.path("selftest.csv")
    export(ctx, r, ex, "serve", file)
    val okExport = verifyExport(ex, file).isEmpty
    val lines = java.nio.file.Files.readAllLines(java.nio.file.Paths.get(file))
    val f = Check.csvFields(lines.get(1)).toArray
    val pki = Check.csvFields(lines.get(0)).indexOf(ex.pks.head)
    f(pki) = (f(pki).toLong + 1000000L).toString
    lines.set(1, f.mkString(";"))
    java.nio.file.Files.write(java.nio.file.Paths.get(file), lines)
    val swapped = verifyExport(ex, file).nonEmpty
    shutdown(r)
    Seq(("etl-sync clean target passes", clean), ("etl-sync clean export passes", okExport),
      ("etl-sync target with one row dropped", dropped),
      ("etl-sync apply counts off by one", wrongCounts),
      ("etl-sync export with one id swapped", swapped))
  }
}
