package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, struct, to_json}
import org.apache.spark.sql.types.StructType

/** JSONL (one JSON object per line) — the de-facto interchange format
  * of LLM training corpora, alongside the reference's CSV/XLSX/LDIF
  * import surface (`/root/reference/lwetl/table_import.py` covers
  * those; JSONL is the format its era didn't need). Spark-first on
  * both sides:
  *
  *  - write: `to_json(struct(*))` is a codegen'd expression — a
  *    100 TB corpus renders in parallel, no driver involvement — and
  *    the result rides `write.text` (splittable output, one file per
  *    task, `maxRecordsPerFile` applies);
  *  - read: with an explicit schema the JSON parser is a single
  *    narrow pass (no inference job); without one, Spark samples to
  *    infer — fine interactively, but production pipelines should
  *    pass the schema and keep `columnNameOfCorruptRecord` visible
  *    rather than silently dropping bad lines.
  */
object Jsonl {

  /** Render every row as one JSON line. Column order inside each
    * object follows the frame's schema; nulls are OMITTED (Spark's
    * to_json default — consumers must treat absent and null alike,
    * the JSONL norm). */
  def write(df: DataFrame, outDir: String): Unit =
    df.select(to_json(struct(df.columns.map(col): _*)).as("value"))
      .write.mode("overwrite").text(outDir)

  /** Read JSONL with an explicit schema (one narrow pass, bad lines
    * surfaced in `_corrupt_record` when `permissive` is true —
    * dropped otherwise via DROPMALFORMED). Spark disallows queries
    * that reference ONLY `_corrupt_record` straight off raw files —
    * cache (or write out) the parse first when auditing bad lines. */
  def read(spark: SparkSession, dir: String, schema: StructType,
           permissive: Boolean = true): DataFrame = {
    val base = spark.read.schema(
        if (permissive)
          schema.add("_corrupt_record", org.apache.spark.sql.types.StringType)
        else schema)
      .option("mode", if (permissive) "PERMISSIVE" else "DROPMALFORMED")
    base.json(dir)
  }
}
