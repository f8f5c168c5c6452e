package graft.sim

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** A persistable trained centroid index — the train-once/query-many
  * form of [[AutoBlock.fitCells]]'s output.
  *
  * A production retrieval pipeline trains its coarse quantizer ONCE
  * over the corpus, persists it, and serves many query batches against
  * it; retraining per query (the pre-round-7 shape) both re-pays the
  * training scans and lets two runs over the same corpus disagree on
  * cell assignment. `CellIndex` captures the model — K unit centroids
  * plus each cell's TRAINING-CORPUS angular radius — as plain driver
  * values with parquet save/load, so `save → load → query` is
  * bit-identical to `train → query` (doubles round-trip exactly
  * through parquet).
  *
  * The radii are corpus statistics, not invariants: they are stored
  * for diagnostics and for callers querying the exact training corpus.
  * The similarity join always recomputes radii over the frame actually
  * being joined (one K-row agg riding the assignment it needs anyway),
  * so a stale index can degrade PRUNING cost but never correctness.
  *
  * Scale shape: the index is O(K·dim) doubles — model parameters that
  * live on the driver and broadcast as expression literals, never data
  * rows. K is bounded by [[AutoBlock.maxAutoCells]].
  */
case class CellIndex(centroids: Array[Array[Double]], radii: Array[Double]) {
  require(centroids.length == radii.length,
    s"centroids (${centroids.length}) and radii (${radii.length}) must align")

  def numCells: Int = centroids.length

  /** Persist as parquet rows (cell, centroid, radius) — readable by any
    * engine, not a JVM serialization format. */
  def save(spark: SparkSession, path: String): Unit = {
    val schema = StructType(Seq(
      StructField("cell", IntegerType, nullable = false),
      StructField("centroid", ArrayType(DoubleType, containsNull = false),
        nullable = false),
      StructField("radius", DoubleType, nullable = false)))
    val rows = centroids.indices.map(i =>
      Row(i, centroids(i).toSeq, radii(i)))
    spark.createDataFrame(
        spark.sparkContext.parallelize(rows.toSeq, 1), schema)
      .write.mode("overwrite").parquet(path)
  }
}

object CellIndex {

  /** Train an index over `emb(idCol, vecCol)`: [[AutoBlock.fitCells]]
    * centroids (deterministic distinct-vector seeds + spherical k-means
    * refinement) plus each cell's angular radius over the training
    * corpus. `numCells = 0` (the default) derives K from the corpus
    * count via [[AutoBlock.resolveCells]]. */
  def train(emb: DataFrame, idCol: String, vecCol: String,
            numCells: Int = 0, refineIters: Int = 1): CellIndex = {
    val base = CellSearch.normed(emb, idCol, vecCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val cents = CellSearch.cells(base, numCells, refineIters, None)
      if (cents.isEmpty) return CellIndex(Array.empty, Array.empty)
      // one K-row agg for the training radii (cells that went empty in
      // the final assignment keep radius 0 — nothing was inside them)
      val radii = Array.fill(cents.length)(0.0)
      base.withColumn("_nc",
          AutoBlock.nearestCellStruct(cents, col("v"), col("nrm")))
        .groupBy(col("_nc.cell").as("cell"))
        .agg(max(col("_nc.ang")).as("r"))
        .collect()
        .foreach(r => radii(r.getInt(0)) = r.getDouble(1))
      CellIndex(cents, radii)
    } finally base.unpersist()
  }

  /** Load an index previously [[CellIndex.save]]d. Validates the cell
    * ids are the contiguous range the assignment expression indexes
    * by. */
  def load(spark: SparkSession, path: String): CellIndex = {
    val rows = spark.read.parquet(path)
      .select(col("cell"), col("centroid"), col("radius"))
      .orderBy(col("cell"))
      .collect()
    val cells = rows.map(_.getInt(0)).toSeq
    require(cells == rows.indices.toSeq,
      s"corrupt CellIndex at $path: cell ids ${cells.take(5).mkString(",")}... " +
        s"are not the contiguous range 0..${rows.length - 1}")
    CellIndex(rows.map(_.getSeq[Double](1).toArray), rows.map(_.getDouble(2)))
  }
}
