package graft.llm

import graft.sources.Io
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVF index persisted AS LAYOUT: the corpus written to parquet
  * partitioned by its coarse-quantizer cell, plus the codebook as a
  * tiny sidecar table. At serving time a probe reads ONLY the
  * partitions of the cells it targets — the cluster-filter becomes a
  * parquet PartitionFilter, so a 4-of-1024-cell probe against a 100 TB
  * corpus scans ~0.4% of the files instead of all of them. This is the
  * storage shape every production IVF deployment uses (the in-plan
  * [[Similarity.ivfTopKWith]] re-buckets per query run; the index file
  * buckets ONCE at build time and every later probe, batch or ad-hoc,
  * prunes for free).
  *
  * Layout: `<path>/corpus/cluster=<c>/…` (id, vec rows) and
  * `<path>/codebook/` ((cl, pos, w) triples — engine-portable, no JVM
  * serialization). Build is one assignment pass + one partitioned
  * write; nothing corpus-sized touches the driver (the codebook is
  * O(k·dim) by the IVF contract).
  */
object IvfIndex {

  /** Build: assign each corpus row to its nearest-centroid cell and
    * write the partitioned layout + codebook sidecar.
    */
  def write(corpus: DataFrame, idCol: String, vecCol: String,
            cs: Array[Array[Double]], path: String): Unit = {
    Similarity.clusterAssignments(corpus, idCol, vecCol, cs)
      .write.mode("overwrite").partitionBy("cluster").parquet(s"$path/corpus")
    val spark = corpus.sparkSession
    import spark.implicits._
    cs.zipWithIndex.flatMap { case (c, cl) =>
      c.zipWithIndex.map { case (w, pos) => (cl.toLong, pos.toLong, w) }
    }.toSeq.toDF("cl", "pos", "w")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/codebook")
  }

  /** The codebook read back from the sidecar (k·dim rows → k arrays). */
  def readCodebook(spark: SparkSession, path: String): Array[Array[Double]] = {
    val rows = Io.readTable(spark, s"$path/codebook")
      .collect().map(r => (r.getAs[Long]("cl"), r.getAs[Long]("pos"), r.getAs[Double]("w")))
    rows.groupBy(_._1).toSeq.sortBy(_._1).map { case (_, ps) =>
      ps.sortBy(_._2).map(_._3)
    }.toArray
  }

  /** The pruned corpus slice for a set of probed cells — the scan the
    * index exists to make cheap. The `isin` on the PARTITION column
    * reaches the file source as a PartitionFilter (asserted by spec):
    * unprobed cells contribute zero files to the scan.
    */
  def probedCells(spark: SparkSession, path: String,
                  cells: Seq[Long]): DataFrame =
    Io.readTable(spark, s"$path/corpus")
      .filter(col("cluster").isin(cells: _*))

  /** Top-k against the persisted index: per query, its `nProbe` nearest
    * cells; the corpus side reads only the UNION of all probed cells
    * (partition-pruned), then candidates come from the same cell-equi
    * join as the in-plan path. Row-identical to
    * [[Similarity.ivfTopKWith]] under the index's codebook — the layout
    * changes WHERE bytes are read, never the arithmetic.
    */
  def topK(spark: SparkSession, path: String, queries: DataFrame,
           idCol: String, vecCol: String, k: Int, nProbe: Int): DataFrame = {
    val cs = readCodebook(spark, path)
    val bc = spark.sparkContext.broadcast(cs)
    val q = queries
      .select(col(idCol).cast("long").as("query_id"),
        Similarity.toDouble(col(vecCol)).as("qv"))
      .withColumn("cluster", explode(transform(
        graft.functions.VectorExpressions.nearestCentroids(bc, col("qv"), nProbe),
        s => s.getField("idx").cast("long"))))
    // the probed-cell union is a query-set-sized driver value (≤ q·nProbe
    // ids) — the partition-prune predicate has to be a literal list to
    // reach the file index
    val cells = q.select("cluster").distinct()
      .collect().map(_.getLong(0)).toSeq
    probedCells(spark, path, cells)
      .select(col("cluster"), col("id").as("neighbor_id"), col("v").as("cv"))
      .join(broadcast(q), Seq("cluster"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", Similarity.cosine(col("qv"), col("cv")))
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(desc("cos"), col("neighbor_id"))).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "cos")
  }
}
