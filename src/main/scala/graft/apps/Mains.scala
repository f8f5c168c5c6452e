package graft.apps

import graft.Tables
import org.apache.spark.sql.SparkSession

/** Runnable entry points mirroring the reference's three console
  * scripts (`setup.py:35-42`): sql-query, db-copy, table-cardinality —
  * driven against parquet directories instead of JDBC urls. */
object Mains {

  /** Specs drive the CLI mains in-process against the shared test
    * session (getOrCreate returns it); they set this so a main's final
    * stop() doesn't kill the suite's session. */
  private[apps] var keepSessionForTests = false

  private[apps] def stop(spark: SparkSession): Unit =
    if (!keepSessionForTests) spark.stop()

  private[apps] def session(name: String): SparkSession = {
    val s = graft.GraftSession.build(name)
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

/** `sql-query <sfDir> <sql-or-file-or-table-or-keyword> [format] [out]
  * [uploadFile] [-m maxRows] [-n commitNr]` — the reference CLI's full
  * dispatch (`lwetl/programs/sql_query/main.py:280-313`): inline SQL, a
  * script file, a bare table name (probed), `jdbc_info` / `table_info`
  * keywords, empty ⇒ stdin, and table+file ⇒ upload. `-m` caps output
  * rows (<=0 ⇒ all) and `-n` sets the upload batch interval, with the
  * reference's defaults (`sql_query/cmdline.py:74-85`: max_rows=0,
  * commit_nr=50 — here the JDBC/parquet write batch size, since Spark
  * has no mid-stream client commit). */
object SqlQueryMain {

  /** Split `-m N` / `-n N` flags out of the positional arguments. */
  private[apps] def parseFlags(args: Array[String]): (Array[String], Option[Int], Int) = {
    var maxRows: Option[Int] = None
    var commitNr = 50
    val positional = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "-m" | "--max_rows" if i + 1 < args.length =>
          maxRows = Some(args(i + 1).toInt).filter(_ > 0); i += 2
        case "-n" | "--commit" if i + 1 < args.length =>
          commitNr = args(i + 1).toInt; i += 2
        case a => positional += a; i += 1
      }
    }
    (positional.toArray, maxRows, commitNr)
  }

  def main(args: Array[String]): Unit = {
    val (pos, maxRows, commitNr) = parseFlags(args)
    val Array(sfDir, src, rest @ _*) = pos.toSeq.toArray: @unchecked
    val format = rest.headOption.getOrElse("csv")
    val out = rest.lift(1).getOrElse("/tmp/graft_sql_query.out")
    val uploadFile = rest.lift(2)
    val spark = Mains.session("graft-sql-query")
    Tables.registerAll(spark, sfDir)
    val fmt = format match {
      case "text" => SqlQuery.Text
      case "xml" => SqlQuery.XmlExcel
      case "xmlp" => SqlQuery.XmlPlain
      case "xlsx" => SqlQuery.XlsxFmt
      case s if s.startsWith("sql:") => SqlQuery.SqlInsert(s.drop(4))
      case _ => SqlQuery.Csv
    }
    def runScript(script: String): Unit = {
      val stmts = SqlQuery.run(spark, script, fmt, out, maxRows)
      println(s"[sql-query] ${stmts.length} statement(s) -> $out")
    }
    SqlQuery.route(spark, src, uploadFile, Some(format)) match {
      case SqlQuery.StdInScript =>
        println("Command or SQL not specified: using the stdin")
        runScript(SqlQuery.readStdIn())
      case SqlQuery.JdbcInfo =>
        Introspect.info(spark).foreach { case (k, v) => println(s"$k: $v") }
      case SqlQuery.TableInfo =>
        Introspect.tableColumns(spark).createOrReplaceTempView("graft_table_info")
        runScript("SELECT * FROM graft_table_info")
      case SqlQuery.ScriptFile(path) =>
        runScript(new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(path)), "UTF-8"))
      case SqlQuery.TableSelect(t) =>
        runScript(s"SELECT * FROM $t")
      case SqlQuery.TableUpload(t, f, fileFmt) =>
        // parquet-target upload: append the imported rows next to `out`.
        // commitNr maps to the JDBC-target path only (Config.writeJdbc
        // batchSize); parquet has no mid-stream commit to interval.
        val df0 = SqlQuery.importFile(spark, f, fileFmt)
        val df = maxRows.map(df0.limit).getOrElse(df0)
        df.write.mode("append").parquet(out)
        println(s"Done: ${df.count()} rows uploaded to $out " +
          s"(table $t, $fileFmt, batch=$commitNr)")
      case SqlQuery.SqlText(sql) =>
        runScript(sql)
    }
    Mains.stop(spark)
  }
}

/** `db-copy <srcDir> <trgDir-or-jdbc-url> [mode]` — copy all test
  * tables in FK topological order, insert/update/sync per mode, to a
  * parquet directory or (with a `jdbc:` target) a live database via
  * executed DML (`lwetl/programs/db_copy/main.py` shape; new/upd/del
  * counts reported per table). */
object DbCopyMain {

  /** FK references of the TPC-H-ish test schema (target tables load
    * first — reference discovers this from catalog FK metadata). */
  val References: Map[String, Set[String]] = Map(
    "nation" -> Set("region"), "customer" -> Set("nation"),
    "supplier" -> Set("nation"), "orders" -> Set("customer"),
    "lineitem" -> Set("orders", "part", "supplier"),
    "region" -> Set.empty, "part" -> Set.empty)

  /** Row identity per table. lineitem's is COMPOSITE — keying the
    * per-row DML on l_orderkey alone would make every UPDATE overwrite
    * all sibling line items of the order. */
  val Pks: Map[String, Seq[String]] = Map(
    "region" -> Seq("r_regionkey"), "nation" -> Seq("n_nationkey"),
    "customer" -> Seq("c_custkey"), "supplier" -> Seq("s_suppkey"),
    "part" -> Seq("p_partkey"), "orders" -> Seq("o_orderkey"),
    "lineitem" -> Seq("l_orderkey", "l_linenumber"))

  def main(args: Array[String]): Unit = {
    val Array(srcDir, trgDir, rest @ _*) = args.toSeq.toArray: @unchecked
    val mode = rest.headOption.getOrElse("insert") match {
      case "update" => DbCopy.Update
      case "sync" => DbCopy.Sync
      case _ => DbCopy.Insert
    }
    val spark = Mains.session("graft-db-copy")
    val order = DbCopy.topoOrder(References).filter(Pks.contains)
    // a `jdbc:` target routes through the live-DML applier (the
    // reference's native JDBC→JDBC loop); anything else is a parquet
    // directory rebuild
    val jdbcTarget: Option[graft.io.Config.Resolved] =
      if (trgDir.startsWith("jdbc:")) {
        val dbType = trgDir.stripPrefix("jdbc:").takeWhile(_ != ':')
        if (dbType.isEmpty)
          // throw, not sys.exit: these mains also run in-process
          throw new IllegalArgumentException(s"malformed JDBC url: $trgDir")
        Some(graft.io.Config.Resolved(None, None, dbType, None, trgDir,
          escape = false))
      } else { new java.io.File(trgDir).mkdirs(); None }
    order.foreach { t =>
      val src = Tables.load(spark, srcDir, t)
      val res = jdbcTarget match {
        case Some(r) =>
          val up = graft.ops.Relational.upperCaseColumns(src)
          DbCopy.applyJdbc(spark, up, r, t.toUpperCase,
            Pks(t).map(_.toUpperCase), mode, graft.io.SqlRender.Ansi,
            skipUnchanged = false)
        case None =>
          DbCopy.applyParquet(spark, src, s"$trgDir/$t.parquet", Pks(t), mode)
      }
      println(s"[db-copy] $t: new: ${res.inserted}, upd: ${res.updated}, " +
        s"del: ${res.deleted} (mode=$mode)")
    }
    Mains.stop(spark)
  }
}

/** `table-cardinality <sfDir> <table> <out.xlsx>` — per-column profile
  * workbook (`lwetl/programs/table_cardinality/main.py`). */
object TableCardinalityMain {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, table, out) = args: @unchecked
    val spark = Mains.session("graft-table-cardinality")
    TableCardinality.report(Tables.load(spark, sfDir, table), out)
    println(s"[table-cardinality] $table -> $out")
    Mains.stop(spark)
  }
}
