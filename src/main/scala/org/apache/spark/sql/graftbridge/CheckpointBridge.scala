package org.apache.spark.sql.graftbridge

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, AttributeReference, GenericInternalRow, SortOrder}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.classic.{Dataset => CDataset}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.types.LongType
import org.apache.spark.storage.StorageLevel

/** `localCheckpoint` that KEEPS its hash partitioning (and optional
  * intra-partition sort order) visible to the optimizer.
  *
  * Why this exists: `Dataset.localCheckpoint` snapshots
  * `physicalPlan.outputPartitioning` into the `LogicalRDD` it creates —
  * but under adaptive query execution (default-on in Spark 4) the
  * physical plan is an `AdaptiveSparkPlanExec` whose partitioning
  * reports as `UnknownPartitioning` at snapshot time, for BOTH lazy and
  * eager checkpoints (measured: a `repartition(32, dst)
  * .localCheckpoint()` round-trips to `UnknownPartitioning(0)`; with
  * AQE off it round-trips to `hashpartitioning(dst, 32)`). Every
  * iterative query that pre-partitions its loop-invariant table by the
  * round join key and checkpoints it — pagerank, label propagation,
  * triangle counting — silently pays a full re-exchange (and for
  * sort-merge joins a re-SORT) of that table EVERY round.
  *
  * This bridge performs the repartition (and optional sort) itself, so
  * the declared `HashPartitioning`/`SortOrder` are guaranteed true by
  * construction — the claim is never trusted from the caller — then
  * caches the materialized rows and wraps them in a `LogicalRDD`
  * carrying that partitioning and ordering, exactly what
  * `Dataset.localCheckpoint` produces when AQE is off. Rows are copied
  * before caching (the executed plan reuses `UnsafeRow` buffers).
  *
  * Lazy by default in the sense of `localCheckpoint(false)`: the cached
  * rows materialize at the first action. Building the checkpoint is not
  * free, though: under adaptive query execution (on by default) creating
  * the RDD of the executed plan runs every upstream shuffle stage, so
  * Spark jobs do run at plan-construction time. PlanAuditSpec's
  * construction-job rule matches driver-action stage names only
  * (`collect at`, ...), so it does not count these jobs.
  *
  * At cluster scale this is the difference between shuffling the edge
  * list once and shuffling it `iters` times — the loop-invariant
  * exchange is exactly what a 100 TB graph pass cannot afford to
  * repeat.
  */
object CheckpointBridge {

  /** Checkpoint `df` hash-partitioned into `numPartitions` by `keys`,
    * optionally sorted within partitions by `sortCols` (ascending,
    * nulls first — the sort-merge-join required ordering, so an SMJ on
    * `sortCols` prefix keys skips its sort on this side entirely).
    *
    * `dedupSorted = true` additionally collapses runs of rows equal on
    * `keys ++ sortCols` to their first row during the checkpoint's
    * materialization pass. Equal rows are co-located by the hash
    * partitioning and adjacent by the sort, so the dedup is a
    * partition-local streaming compare — it replaces a caller-side
    * `.distinct()`, whose full-width exchange was the most expensive
    * stage of the graph edge builds. Caller contract: `keys ++
    * sortCols` must cover EVERY column of `df` (enforced), otherwise
    * rows differing only on an uncovered column would collapse.
    *
    * `declareStats = false` makes the checkpoint report
    * defaultSizeInBytes ("huge") instead of the child plan's estimate.
    * Use it for LOOP-INVARIANT big tables (graph edge lists): the
    * child's post-explode estimates undercount badly enough that
    * Catalyst auto-broadcast a 2.4M-row edge list into every LPA round
    * — silently replacing the declared-partitioning streamed SMJ with a
    * per-round rebroadcast, which is exactly the scale failure this
    * bridge exists to prevent. Leave true for small/sample-bounded
    * frames that legitimately want to remain auto-broadcastable.
    */
  def partitionedCheckpoint(df: DataFrame, numPartitions: Int,
                            keys: Seq[String],
                            sortCols: Seq[String] = Nil,
                            dedupSorted: Boolean = false,
                            declareStats: Boolean = true): DataFrame = {
    require(keys.nonEmpty, "partitionedCheckpoint needs at least one key")
    if (dedupSorted) {
      val covered = (keys ++ sortCols).toSet
      require(df.columns.forall(covered),
        s"dedupSorted requires keys ++ sortCols to cover all columns; " +
          s"missing ${df.columns.filterNot(covered).mkString(", ")}")
    }
    val repart = df.repartition(numPartitions, keys.map(df.col): _*)
    val prepared =
      if (sortCols.isEmpty) repart
      else repart.sortWithinPartitions(sortCols.map(repart.col): _*)
    val cds = prepared.asInstanceOf[CDataset[Row]]
    val qe = cds.queryExecution
    val output = qe.analyzed.output
    // dedup compares the sorted rows' full UnsafeRow bytes (same schema
    // on both sides of the compare, so byte equality == value equality
    // for the fixed-width key/sort columns the contract admits)
    val base: RDD[InternalRow] =
      if (!dedupSorted) qe.toRdd.map(_.copy())
      else qe.toRdd.mapPartitions { it =>
        var prev: InternalRow = null
        it.flatMap { row =>
          if (prev != null && prev == row) None
          else { prev = row.copy(); Some(prev) }
        }
      }
    val rdd: RDD[InternalRow] = base.persist(StorageLevel.MEMORY_AND_DISK)
    def attr(name: String) = output.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(
        s"partitionedCheckpoint: no column '$name' in ${output.map(_.name)}"))
    val partitioning = HashPartitioning(keys.map(attr), numPartitions)
    val ordering = sortCols.map(c => SortOrder(attr(c), Ascending))
    // originStats mirrors Dataset.checkpoint: without it the LogicalRDD
    // reports defaultSizeInBytes (= "huge"), and a small checkpointed
    // side can never be auto-broadcast again (suppressed when the
    // caller declares the frame loop-invariant-big — see the scaladoc)
    val plan = LogicalRDD(output, rdd, partitioning, ordering,
      isStreaming = false, stream = None)(
      cds.sparkSession,
      if (declareStats) Some(qe.optimizedPlan.stats) else None, None)
    CDataset.ofRows(cds.sparkSession, plan)
  }

  /** [[partitionedCheckpoint]] with the counting aggregation folded into
    * the materialization pass: runs of rows equal on `keys ++ sortCols`
    * (which must cover every column — enforced) collapse to one row with
    * an appended BIGINT `countCol` holding the run length. Semantically
    * `df.groupBy(all columns).count()` checkpointed partitioned by
    * `keys` — but the groupBy's full-width exchange IS the checkpoint's
    * repartition, so a weighted-edge build (pagerank's `(src, dst) →
    * multiplicity`) pays ONE wide exchange instead of two. The count is
    * a partition-local streaming run-length over the sorted rows, the
    * same co-location argument as `dedupSorted`.
    */
  def countedCheckpoint(df: DataFrame, numPartitions: Int,
                        keys: Seq[String], sortCols: Seq[String],
                        countCol: String, minCount: Long = 1L): DataFrame = {
    require(keys.nonEmpty, "countedCheckpoint needs at least one key")
    val covered = (keys ++ sortCols).toSet
    require(df.columns.forall(covered),
      s"countedCheckpoint requires keys ++ sortCols to cover all columns; " +
        s"missing ${df.columns.filterNot(covered).mkString(", ")}")
    val repart = df.repartition(numPartitions, keys.map(df.col): _*)
    val prepared = repart.sortWithinPartitions(sortCols.map(repart.col): _*)
    val cds = prepared.asInstanceOf[CDataset[Row]]
    val qe = cds.queryExecution
    val output = qe.analyzed.output
    val types = output.map(_.dataType)
    // minCount > 1 folds a HAVING count >= minCount into the same pass
    // (k_truss's per-round support threshold): runs shorter than the
    // floor emit nothing — the threshold filter costs zero extra rows,
    // stages, or exchanges on top of the counting collapse.
    val rdd: RDD[InternalRow] = qe.toRdd.mapPartitions { it =>
      new Iterator[InternalRow] {
        private var cur: InternalRow = if (it.hasNext) it.next().copy() else null
        private var pending: InternalRow = null
        private def advance(): Unit = {
          while (pending == null && cur != null) {
            var cnt = 1L
            var nxt: InternalRow = null
            while (nxt == null && it.hasNext) {
              val r = it.next()
              if (r == cur) cnt += 1 else nxt = r.copy()
            }
            if (cnt >= minCount) {
              val vals = new Array[Any](types.length + 1)
              var i = 0
              while (i < types.length) { vals(i) = cur.get(i, types(i)); i += 1 }
              vals(types.length) = cnt
              pending = new GenericInternalRow(vals)
            }
            cur = nxt
          }
        }
        override def hasNext: Boolean = { advance(); pending != null }
        override def next(): InternalRow = {
          advance()
          val r = pending; pending = null; r
        }
      }
    }.persist(StorageLevel.MEMORY_AND_DISK)
    val cnt = AttributeReference(countCol, LongType, nullable = false)()
    val outAll = output :+ cnt
    def attr(name: String) = output.find(_.name == name).get
    val partitioning = HashPartitioning(keys.map(attr), numPartitions)
    val ordering = sortCols.map(c => SortOrder(attr(c), Ascending))
    // stats = None, DELIBERATELY (unlike partitionedCheckpoint): the
    // run-length collapse makes the output cardinality unknowable before
    // materialization, and the pre-count child's stats UNDERCOUNT the
    // post-explode row width enough that Catalyst auto-broadcast the
    // 2.4M-row edge list into every pagerank round (observed: BHJ
    // BuildLeft over the checkpoint scan — the exact loop-invariant
    // re-broadcast this bridge exists to prevent). defaultSizeInBytes =
    // huge ⇒ the counted side can never be a build side; its declared
    // partitioning + ordering make it the streamed SMJ side for free.
    val plan = LogicalRDD(outAll, rdd, partitioning, ordering,
      isStreaming = false, stream = None)(
      cds.sparkSession, None, None)
    CDataset.ofRows(cds.sparkSession, plan)
  }
}
