package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The reference's client-side dataflow operators re-expressed as
  * declarative Spark transforms (SURVEY.md §2.4). Each is a lazy plan
  * fragment: Catalyst handles pushdown/pruning, and the join-shaped ops
  * pick broadcast vs shuffle automatically (small PK sides broadcast).
  *
  * Reference citations: rene-bakker-it/lwetl at /root/reference.
  */
object Relational {

  /** Uppercase column-name normalization — the reference's default
    * (`lwetl/jdbc.py:105-107`, `lwetl/uploader.py:203-213`). */
  def upperCaseColumns(df: DataFrame): DataFrame =
    df.toDF(df.columns.map(_.toUpperCase): _*)

  /** First row, if any (`query_single`, `lwetl/jdbc.py:722-736`). */
  def querySingle(df: DataFrame): Option[org.apache.spark.sql.Row] =
    df.limit(1).collect().headOption

  /** First value of the first row (`query_single_value`). */
  def querySingleValue(df: DataFrame): Option[Any] =
    querySingle(df).flatMap(r => if (r.isNullAt(0)) None else Some(r.get(0)))

  /** First value coerced to long, default when absent (`get_int`). */
  def getInt(df: DataFrame, default: Long = 0L): Long =
    querySingleValue(df) match {
      case Some(n: Number) => n.longValue()
      case Some(s: String) => s.trim.toDouble.toLong
      case _ => default
    }

  /** Cardinality profile of one column. Mirrors the SQL emitted by the
    * table-cardinality app (`lwetl/programs/table_cardinality/main.py:40-42`):
    * non-null values occurring more than once, most frequent first.
    * Distributed shape: partial/final hash aggregation, no extra shuffle
    * beyond the groupBy. */
  def profileCardinality(df: DataFrame, c: String): DataFrame =
    df.filter(col(c).isNotNull)
      .groupBy(col(c))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > 1)
      .orderBy(col("cnt").desc, col(c))

  /** md5 over ';'-joined non-null row values
    * (`examples/calc_md5.py:14-21`). `concat_ws` skips NULLs exactly like
    * the reference's `[v for v in row if v is not None]`. */
  def rowChecksum(df: DataFrame, cols: Seq[String], out: String = "row_md5"): DataFrame =
    df.withColumn(out, md5(concat_ws(";", cols.map(c => col(c).cast("string")): _*)))

  /** New-rows detection: source rows whose key is absent from the target —
    * the db-copy insert path (`lwetl/programs/db_copy/main.py:260-268,296-316`).
    * The reference loads the full target PK set into client memory; here the
    * key projection broadcasts when small, else a shuffled anti-join.
    * Composite keys (lineitem!) pass every column. */
  def newRows(src: DataFrame, trg: DataFrame, pks: Seq[String]): DataFrame =
    src.join(trg.select(pks.map(col): _*), pks, "left_anti")

  def newRows(src: DataFrame, trg: DataFrame, pk: String): DataFrame =
    newRows(src, trg, Seq(pk))

  /** Rows already present in the target — the db-copy update path
    * (`lwetl/programs/db_copy/main.py:296-316`). */
  def existingRows(src: DataFrame, trg: DataFrame, pks: Seq[String]): DataFrame =
    src.join(trg.select(pks.map(col): _*), pks, "left_semi")

  def existingRows(src: DataFrame, trg: DataFrame, pk: String): DataFrame =
    existingRows(src, trg, Seq(pk))

  /** Set-difference delete (db-copy `sync` mode,
    * `lwetl/programs/db_copy/main.py:362-391`): target keys absent from
    * the source. */
  def orphans(src: DataFrame, trg: DataFrame, pks: Seq[String]): DataFrame =
    trg.join(src.select(pks.map(col): _*), pks, "left_anti")

  def orphans(src: DataFrame, trg: DataFrame, pk: String): DataFrame =
    orphans(src, trg, Seq(pk))

  /** Backward as-of join: for each left row, the most recent right row
    * with rightTime <= leftTime for the same key; ts ties broken toward
    * the larger right id (max-struct semantics).
    *
    * Implemented union-sort-window, NOT join+filter+reduce: both sides
    * shuffle ONCE on the key, then a single ordered window pass carries
    * the last-seen right payload forward. No join blow-up — a key with n
    * left and m right rows costs O(n+m log(n+m)) instead of the O(n*m)
    * intermediate a range-join would materialize, which is what keeps a
    * skewed key (one hot user with millions of events) from OOMing an
    * executor at 100 TB. */
  def asofJoinBackward(left: DataFrame, right: DataFrame, key: String,
                       leftTime: String, rightTime: String,
                       rightId: String, outCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val l = left.withColumn("_t", col(leftTime)).withColumn("_tag", lit(1))
      .withColumn("_rid", lit(null).cast("long"))
    val r = right.select(col(key), col(rightTime).as("_t"),
      lit(0).as("_tag"), col(rightId).cast("long").as("_rid"))
    val lCols = left.columns
    val merged = l.select((lCols.map(col) ++ Seq(col("_t"), col("_tag"), col("_rid"))): _*)
      .unionByName(r.select(
        (lCols.map(c => if (c == key) col(c) else lit(null).cast(left.schema(c).dataType).as(c))
          ++ Seq(col("_t"), col("_tag"), col("_rid"))): _*))
    // right rows (_tag=0) sort before the left row at equal _t, and by
    // _rid among themselves, so last() picks (max ts, then max id).
    val w = Window.partitionBy(col(key)).orderBy(col("_t"), col("_tag"), col("_rid"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    merged
      .withColumn(outCol, last(col("_rid"), ignoreNulls = true).over(w))
      .filter(col("_tag") === 1)
      .drop("_t", "_tag", "_rid")
  }
}
