package graft.operators

import graft.sources.{EventTime, Io}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.CheckpointBridge
import org.apache.spark.sql.types.DecimalType

/** The spellings every query object shares, defined once: the oracle
  * SQL's half-up rounding, the exact decimal sum, the table readers, the
  * session shuffle width and the co-purchase edge list. The oracle SQL
  * mirrors these spellings, and every query object calls them: changing
  * one changes the plan of every query that uses it.
  */
private[graft] object QueryHelpers {

  /** Half-up rounding via floor(x·10^d + 0.5)/10^d (`pow` = 10^d) — the
    * bit-deterministic cross-engine form (Spark bround is half-even on
    * the exact double value; DuckDB round is half-away after an x·10^d
    * double product; the two genuinely diverge on near-tie values — hit
    * at sf0.01 for bigram_logprob). floor is IEEE-exact on both engines
    * for any sign, so this is safe for negative inputs too (ties go
    * toward +∞). Spark's floor(double) returns LONG, so a scaled value
    * past ~9.2e18 overflows: large sums of squares round with r2.
    */
  def roundHU(c: Column, pow: Double): Column =
    floor(c * lit(pow) + lit(0.5)) / lit(pow)

  def r2(c: Column): Column = roundHU(c, 1e2)
  def r6(c: Column): Column = roundHU(c, 1e6)
  def r8(c: Column): Column = roundHU(c, 1e8)

  /** Double sum through an exact DECIMAL(18, scale) accumulator, so the
    * result does not depend on partial-aggregation order.
    */
  def decSum(c: Column, scale: Int = 6): Column =
    sum(c.cast(DecimalType(18, scale))).cast("double")

  /** Session shuffle width, for PINNED repartitions whose partitioning a
    * downstream stage must be able to reuse (an unpinned repartition is
    * AQE-coalescible, which both breaks the reuse and can serialize a
    * later join's expansion into one task — the allpairs_tfidf lesson).
    */
  def shufflePartitions(s: SparkSession): Int =
    s.conf.get("spark.sql.shuffle.partitions").toInt

  def t(s: SparkSession, dir: String, name: String): DataFrame =
    Io.readTable(s, s"$dir/$name.parquet")

  def docs(s: SparkSession, dir: String): DataFrame = t(s, dir, "documents")

  /** The events table with the schema-adaptive `ts_us` column. */
  def events(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    Io.readTable(s, s"$dir/events.parquet", df => df.withColumn("ts_us", EventTime.tsUs(df)))
  }

  /** Co-purchase pairs: parts ordered together, as ONE per-order
    * collect_set (dedups a part within its order, so each pair appears
    * once per co-order; basket size is bounded by order size, so the
    * explode² fan-out stays O(1) per order at any SF) and a narrow
    * double explode instead of the baskets self-join. `canonical` keeps
    * one orientation (src < dst); otherwise both, self-pairs dropped.
    */
  def coPurchasePairs(s: SparkSession, dir: String,
                      canonical: Boolean): DataFrame = {
    val bo = t(s, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(collect_set(col("l_partkey")).as("items"))
    bo.select(explode(col("items")).as("src"), col("items"))
      .select(col("src"), explode(col("items")).as("dst"))
      .filter(if (canonical) col("src") < col("dst")
              else col("src") =!= col("dst"))
  }

  /** The distinct co-purchase edge list, checkpointed hash-partitioned by
    * `key` (src or dst) and sorted by (key, other) — the layout a round
    * join on `key` streams without an exchange or a sort. The pair-level
    * distinct folds into the checkpoint as a partition-local adjacent
    * dedup (equal pairs agree on the key, so the hash partitioning
    * co-locates them and the sort makes them adjacent): two wide
    * exchanges, not the self-join-plus-distinct build's four (measured
    * at sf0.1: 1.9s → 1.3s for the same 2.39M-edge result).
    * declareStats=false: an edge list must never become a broadcast
    * build side (see CheckpointBridge).
    */
  def coPurchaseEdges(s: SparkSession, dir: String, key: String,
                      canonical: Boolean): DataFrame = {
    val other = if (key == "dst") "src" else "dst"
    CheckpointBridge.partitionedCheckpoint(
      coPurchasePairs(s, dir, canonical), shufflePartitions(s), Seq(key),
      Seq(key, other), dedupSorted = true, declareStats = false)
  }
}
