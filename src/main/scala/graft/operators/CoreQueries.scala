package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import QueryHelpers.{coPurchaseEdges, coPurchasePairs, decSum, r2, r6, r8, shufflePartitions, t}

/** Driver-contract queries: each SURVEY.md §2 operator expressed as a generic
  * query over the shared `/root/testdata` TPC-H-ish parquet tables, paired
  * with ANSI SQL the driver runs in DuckDB (SURVEY.md §7.2 mapping).
  *
  * Determinism rules (so Spark parquet output hash-matches the DuckDB oracle):
  *   - every query ends in a total-order `orderBy` mirrored by the oracle's
  *     ORDER BY (Catalyst's EliminateSorts drops the sort under the bench's
  *     `count()` action, so correctness-only cost);
  *   - double SUMs go through DECIMAL casts (`sum(cast(x as decimal)).cast
  *     ("double")`) — exact, order-independent arithmetic on both engines,
  *     since float summation order differs between Spark partials and DuckDB
  *     (SURVEY.md §7.4(1)); row-level double arithmetic is IEEE-identical and
  *     needs no such guard; sums of integral doubles (quantities) are exact
  *     in double and left bare;
  *   - Spark `row_number` (int) is cast to long to match DuckDB BIGINT.
  *
  * Scale notes: joins whose right side grows with SF (fx_join's and
  * region_revenue's orders side) carry NO broadcast hint — Catalyst
  * broadcasts them while they fit the threshold and shuffles beyond it
  * (an explicit hint would instead force the broadcast and fail). All
  * aggregations are partial-agg friendly (sum/count/min), pivots carry pinned
  * values so no extra distinct job runs, and no query collects to the driver.
  */
object CoreQueries {

  /** Bucket count for [[exclusivePrefix]] — constant, so the coarse
    * bucket-rollup window is a constant-size single partition at any SF.
    */
  private val CumBuckets = 1024

  /** Two-phase global running sum (the scalable form of
    * `SUM(...) OVER (ORDER BY value)`): value-range buckets computed from
    * a broadcast 1-row bounds aggregate partition the ordered domain,
    * per-bucket totals roll up through a CumBuckets-row window (single
    * partition of CONSTANT size), and the carry joins back so the fine
    * window is partitioned BY bucket — a global cumulative sum with no
    * data-sized single-partition WindowExec anywhere. Equal values always
    * land in the same bucket (the bucket is a function of the value), so
    * tie groups never straddle the carry boundary.
    *
    * Input: one row per DISTINCT value. Output: input columns plus
    * `cum_<c>` = the EXCLUSIVE prefix sum of `c` over strictly-smaller
    * values (ties share a row, so inclusive = exclusive + own).
    * Oracles express the same thing as a plain ordered window — the
    * two-phase split is pure execution strategy, not semantics.
    */
  private[operators] def exclusivePrefix(perValue: DataFrame, valueCol: String,
                                         sumCols: Seq[String],
                                         tieCols: Seq[String] = Nil): DataFrame = {
    // r13 (guide §5 caching): `perValue` feeds THREE consumers here —
    // the bounds broadcast, the per-bucket carry rollup, and the fine
    // probe side — and without a checkpoint the caller's whole upstream
    // subtree replays for each (the survival queries stacked TWO
    // prefixes, so events→subjects→rollup ran ~6x per action: 31-43
    // executor-cpu-s for a ~4s query, r13 profile). The frame is a
    // per-VALUE rollup — the operator exists because it is small enough
    // to bucket — so a lazy local checkpoint is rollup-sized, computed
    // once per action, and changes no row.
    val pv = perValue.localCheckpoint(false)
    val bounds = broadcast(pv.agg(
      min(col(valueCol)).as("lo"), max(col(valueCol)).as("hi")))
    val bkt = pv.crossJoin(bounds)
      .withColumn("bkt",
        when(col("hi") === col("lo"), lit(0L))
          .otherwise(least(
            floor((col(valueCol) - col("lo")).cast("double") * CumBuckets /
              (col("hi") - col("lo")).cast("double")).cast("long"),
            lit(CumBuckets - 1L))))
      .drop("lo", "hi")
    val coarse = Window.orderBy("bkt")
      .rowsBetween(Window.unboundedPreceding, -1)
    val carryTot = bkt.groupBy("bkt")
      .agg(sum(col(sumCols.head)).as(s"t_${sumCols.head}"),
        sumCols.tail.map(c => sum(col(c)).as(s"t_$c")): _*)
    val carried = carryTot.select(col("bkt") +: sumCols.map(c =>
      coalesce(sum(col(s"t_$c")).over(coarse), lit(0L)).as(s"carry_$c")): _*)
    val fine = Window.partitionBy("bkt")
      .orderBy((valueCol +: tieCols).map(col): _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    bkt.join(carried, "bkt")
      .select(perValue.columns.toIndexedSeq.map(col) ++ sumCols.map(c =>
        (col(s"carry_$c") + coalesce(sum(col(c)).over(fine), lit(0L)))
          .as(s"cum_$c")): _*)
  }

  /** SQL-standard `ntile(k)` computed from a 1-based unique rank and the
    * total row count — the first `n mod k` tiles take `n/k + 1` rows, the
    * rest `n/k`. Lets a global ntile run on two-phase [[exclusivePrefix]]
    * ranks instead of a data-sized single-task window; positive-domain
    * double floor-division is exact below 2^52 rows.
    */
  private def ntileExpr(rnk: Column, n: Column, k: Int): Column = {
    val q = floor(n / k).cast("long")
    val rem = n % k
    when(rnk <= (q + 1) * rem,
      (floor((rnk - 1) / (q + 1)) + 1).cast("long"))
      .otherwise((rem + floor((rnk - (q + 1) * rem - 1) / q) + 1).cast("long"))
  }

  /** Columns profiled by `table_profile` — the single source of truth the
    * Spark aggregate list, the oracle's UNION ALL, and the approx tier's
    * bench twin are generated from.
    */
  private[operators] val ProfileCols = Seq("o_orderkey", "o_custkey",
    "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority")

  /** Block-size ceiling `fuzzy_name_match` enforces: pair compute per
    * block is |block|², so 1000 rows ≈ 10⁶ residual levenshteins — the
    * largest a single task should ever absorb before the blocking key
    * must widen.
    */
  val FuzzyMatchMaxBlock: Long = 1000L

  /** Plan-embedded enforcement of a blocked operator's "blocks stay
    * bounded" contract: every row is joined to its block's row count and
    * passes through an `assert_true` — the first block exceeding
    * `maxBlock` fails the JOB with a message naming the offending block,
    * instead of silently going quadratic in a straggler task. Cost: one
    * partial-agg-friendly count per block (block-cardinality relation,
    * broadcast back) — noise next to the Σ|block|² pair compute it
    * bounds. Output rows, schema and column order are unchanged: the
    * count join is null-SAFE (null-keyed rows survive) and the assert
    * column is always null and projected away.
    */
  def blockSizeGuard(df: DataFrame, blockCols: Seq[String], maxBlock: Long,
                     op: String): DataFrame = {
    // the counts relation derives from df (a self-join): rename its key
    // columns so the join condition references unambiguous attributes
    val keyed = blockCols.map(c => c -> s"__bk_$c")
    val counts = df.groupBy(blockCols.map(col): _*)
      .agg(count(lit(1)).as("__block_n"))
      .select(keyed.map { case (c, a) => col(c).as(a) } :+ col("__block_n"): _*)
    // null-SAFE join: groupBy emits a count row for a null block key, and
    // a plain equi-join would silently DROP every null-keyed input row —
    // the exact silent-data-loss class this guard exists to prevent
    val cond = keyed.map { case (c, a) => df(c) <=> counts(a) }.reduce(_ && _)
    val msg = concat(
      lit(s"$op: blocking contract violated - block ("),
      concat_ws(", ", blockCols.map(c => coalesce(df(c).cast("string"), lit("null"))): _*),
      lit(") holds "), col("__block_n").cast("string"),
      lit(s" rows > maxBlock=$maxBlock; widen the blocking key"))
    df.join(counts, cond, "left")
      .withColumn("__guard", assert_true(col("__block_n") <= maxBlock, msg))
      .filter(col("__guard").isNull) // always true; keeps the assert in the plan
      .select(df.columns.map(df(_)): _*) // original columns, original order
  }

  /** PageRank power-iteration count — the single source of truth both the
    * Spark loop and the oracle's unrolled CTE chain are generated from.
    * Fixed (not convergence-tested) so "approximate" has ONE exact
    * answer every engine reproduces.
    */
  private val PageRankIters = 3

  /** Cut the rank iteration's lineage every N rounds. Each PageRank
    * round rebinds `r` through a join+agg, so without a periodic cut the
    * logical plan deepens linearly and Catalyst re-optimization cost
    * grows per round — harmless at 3 iterations, pathological at 30+.
    * The cut is `localCheckpoint(false)`, which is not free: under AQE
    * building it runs the upstream shuffle stages as Spark jobs at plan
    * construction, before the query's own action.
    */
  private val PageRankCheckpointStride = 5

  /** Label-propagation iteration count — single source of truth for the
    * Spark loop and the oracle's unrolled CTE chain. Fixed (not
    * convergence-tested) so the "approximate" community assignment has
    * ONE exact answer every engine reproduces.
    */
  private val LpaIters = 4

  /** Cut the label iteration's lineage every N rounds (same role as
    * [[PageRankCheckpointStride]], whose mechanism the iters=7 pagerank
    * spec exercises). Not every round: each localCheckpoint costs a
    * full planning + materialization cycle — at stride 2 the single
    * mid-loop cut was ~0.45s of LPA's sf0.1 wall-clock for a 4-deep
    * plan that needs no cut at all, so the stride sits above
    * [[LpaIters]] and only engages when the constant is raised.
    */
  private val LpaCheckpointStride = 5

  /** HITS iteration count (Kleinberg 1999) — single source of truth for
    * the Spark loop and the oracle's unrolled CTE chain (the
    * PageRankIters convention). Fixed so the "converging" scores have
    * ONE exact answer every engine reproduces.
    */
  private val HitsIters = 2

  /** k-core threshold and peel-round count for `kcore_peel` — fixed
    * rounds (not peel-to-fixpoint) so the query has one exact answer and
    * an unrollable oracle; real decompositions raise the round count and
    * stop early when an iteration removes nothing.
    */
  private val KCoreK = 3
  private val KCorePeelRounds = 4

  /** k and peel-round count for `k_truss` (support threshold k−2). */
  private val TrussK = 4
  private val TrussRounds = 3

  /** Weisfeiler–Lehman refinement rounds + the shared hash constants —
    * single source of truth for the Spark loop and the oracle's unrolled
    * CTEs. The neighbor multiset is hashed COMMUTATIVELY (sum of
    * per-element hashes mod P + the neighbor count) instead of the
    * textbook sorted-list fold: a sum partial-aggregates map-side and
    * never buffers a hub's neighbor list, which is what survives
    * heavy-tailed degrees at 100 TB (the trade is hash-collision risk,
    * the standard distributed-WL compromise). All arithmetic stays below
    * 2⁶³: colors < P ≈ 2³¹, color·M₂ < 2³¹·2654435761 < 2⁶³, per-node
    * sums < deg·P < 2⁶³ for deg < 2³².
    */
  private val WlRounds = 2
  private val WlP = 2147483647L
  private val WlM = 1000003L
  private val WlM2 = 2654435761L

  /** SAX (Lin et al. 2003) segment count — the PAA word length the
    * monthly series is compressed to. Alphabet is fixed at 4 via the
    * standard N(0,1) breakpoints ±0.6745 (quartiles), written as plain
    * double literals shared bit-for-bit by both engines.
    */
  private val SaxSegments = 12

  /** ε for `dp_histogram`'s Laplace mechanism. The "randomness" is a
    * deterministic hash-uniform (the sampleHash convention from
    * LlmQueries): DP's formal guarantee needs true randomness, but a
    * pipeline query must be reproducible and oracle-checkable, so this
    * demonstrates the mechanism (inverse-CDF transform, sensitivity-1
    * count histogram) with a seeded noise source — swap the hash for an
    * RNG at release time.
    */
  private val DpEpsilon = 1.0

  /** L118 — synchronous label propagation (community detection) over the
    * part co-purchase graph. Deterministic update: each node adopts the
    * neighbor label with the highest count, ties to the SMALLEST label —
    * a total order, so every round is reproducible. Scale shape: one
    * edge⨝label equi-join + keyed count per round; the pick is a hash
    * AGGREGATE (`max_by` over the (cnt, −lbl) struct order), not a
    * row_number window — same argmax, no per-node sort, and partial
    * aggregation combines map-side. Lineage is cut every
    * [[LpaCheckpointStride]] rounds so plan depth stays bounded no
    * matter how high `iters` is raised.
    */
  private[operators] def lpaPlan(s: SparkSession, dir: String,
                                 iters: Int): DataFrame = {
    // checkpoint PARTITIONED AND SORTED BY THE ROUND JOIN KEY via the
    // bridge: plain localCheckpoint under AQE snapshots
    // UnknownPartitioning (see CheckpointBridge), so every round was
    // silently re-exchanging AND re-sorting the full edge list; with
    // the declared partitioning + ordering each round's SMJ streams the
    // edge side with zero exchange and zero sort — only the (small)
    // label table shuffles
    val e = coPurchaseEdges(s, dir, "dst", canonical = false)
    lpaFrom(e, iters)
      .select(col("node").as("p_partkey"), col("lbl").as("community"))
      .orderBy("p_partkey")
  }

  /** The LPA label table (node, lbl) from a dst-partitioned edge list —
    * shared by `label_propagation` and `modularity` (which scores these
    * labels rather than re-deriving its own).
    */
  private def lpaFrom(e: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1, "lpaFrom needs at least one iteration")
    // round 1 folded: the initial label of every node is the node id
    // itself, so the first edge⨝label join is an identity — round 1 is
    // just the deterministic mode of each node's neighbor IDS, and the
    // init-label `distinct` disappears with the join (two fewer stages;
    // the update rule below is unchanged from round 2 on). Grouped by
    // DST, not src: the co-purchase edge set is symmetric (both
    // orientations present — a lpaFrom contract), so the per-node
    // neighbor multiset is identical either way, and dst is the
    // checkpoint's declared partitioning — round 1 runs exchange-free
    // where the src spelling re-shuffled the full edge list (r11:
    // ~0.5s of the 2.4M-edge build at sf0.1).
    // mode ≡ MIN in round 1: the edge set is DISTINCT (another lpaFrom
    // contract — coPurchaseEdges dedups), so each neighbor id appears
    // exactly once per node, every candidate label has count 1, and the
    // tie rule (lowest label) picks the minimum neighbor id. min() is a
    // plain partial-aggregable scalar where mode() built a per-node
    // count map over ~d(n) DISTINCT ids — the widest maps of any round
    // (later rounds mode over collapsing label sets). Wall at local[32]
    // sf0.1 is within host noise either way; the win is per-round agg
    // state (scalar vs map — the shape that must not OOM a 100 TB
    // partial aggregate) and ~1-2 executor-cpu-s.
    var lbl = e.groupBy(col("dst").as("node"))
      .agg(min(col("src")).as("lbl"))
    for (i <- 2 to iters) {
      // ONE aggregation per round, not two: deterministic mode(lbl) is
      // exactly LPA's update rule (most frequent neighbor label, ties ->
      // LOWEST label, matching the oracle's ORDER BY cnt DESC, lbl pick)
      // and partial-aggregates map-side as per-node label-count maps —
      // the previous count-per-(node,lbl) + max_by-per-node pair paid a
      // second full shuffle every round for the same result (r8: LPA
      // 4.6s vs pagerank's 3.6s on the same edge list; the extra
      // per-round exchange was the difference). shuffle_hash on the
      // node-sized label side: the SMJ's streamed merge costs more per
      // edge row than a hash probe into the (small) per-partition label
      // map, and the edge side's declared ordering buys SMJ nothing the
      // hash probe doesn't get for free (r11 A/B: 4 rounds 3.0s -> 2.4s
      // at sf0.1; same rows, same labels, any join type).
      lbl = e.join(lbl.withColumnRenamed("node", "dst")
          .hint("shuffle_hash"), "dst")
        .groupBy(col("src").as("node"))
        .agg(mode(col("lbl"), deterministic = true).as("lbl"))
      if (i % LpaCheckpointStride == 0 && i < iters)
        lbl = lbl.localCheckpoint(false)
    }
    lbl
  }

  /** Oracle for `label_propagation`: the same synchronous update unrolled
    * as a CTE chain, one (count, pick) pair per round.
    */
  /** The LPA CTE chain (`e` edge list through `l$LpaIters` labels) —
    * shared by the `label_propagation` and `modularity` oracles.
    */
  private def sqlLpaCtes: String = {
    val rounds = (1 to LpaIters).map { i =>
      s"""c$i AS (SELECT e.src AS node, l${i - 1}.lbl, COUNT(*) AS cnt
         |        FROM e JOIN l${i - 1} ON e.dst = l${i - 1}.node GROUP BY 1, 2),
         |l$i AS (SELECT node, lbl FROM (
         |          SELECT node, lbl, row_number() OVER (PARTITION BY node
         |                   ORDER BY cnt DESC, lbl) AS rn FROM c$i) WHERE rn = 1)"""
        .stripMargin
    }.mkString(",\n")
    s"""b AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
       |e AS (SELECT DISTINCT a.pk AS src, c.pk AS dst
       |      FROM b a JOIN b c ON a.ok = c.ok AND a.pk <> c.pk),
       |l0 AS (SELECT DISTINCT src AS node, src AS lbl FROM e),
       |$rounds""".stripMargin
  }

  private def sqlLpa: String =
    s"""WITH $sqlLpaCtes
       |SELECT node AS p_partkey, lbl AS community
       |FROM l$LpaIters ORDER BY 1""".stripMargin

  /** Oracle for `modularity`: the LPA chain re-used verbatim, then the
    * per-community Newman–Girvan terms over the DIRECTED edge count M
    * (both orientations, so M = 2m and the textbook 1/2m factors become
    * 1/M), rounded 6dp before the decimal sum.
    */
  private def sqlModularity: String =
    s"""WITH $sqlLpaCtes,
       |lab AS MATERIALIZED (SELECT node, lbl FROM l$LpaIters),
       |deg AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS d
       |        FROM e GROUP BY 1),
       |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS mm FROM e),
       |intra AS (SELECT la.lbl AS c, CAST(COUNT(*) AS BIGINT) AS ec
       |          FROM e JOIN lab la ON e.src = la.node
       |                 JOIN lab lb ON e.dst = lb.node
       |          WHERE la.lbl = lb.lbl GROUP BY 1),
       |dc AS (SELECT lab.lbl AS c, CAST(SUM(deg.d) AS BIGINT) AS dsum
       |       FROM lab JOIN deg USING (node) GROUP BY 1),
       |terms AS (SELECT CAST(floor((CAST(COALESCE(intra.ec, 0) AS DOUBLE) / m.mm
       |            - (CAST(dc.dsum AS DOUBLE) / m.mm) * (CAST(dc.dsum AS DOUBLE) / m.mm))
       |            * 1e6 + 0.5) / 1e6 AS DECIMAL(18,6)) AS t
       |          FROM dc LEFT JOIN intra USING (c), m)
       |SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM dc) AS n_communities,
       |       (SELECT mm FROM m) AS n_directed_edges,
       |       floor(CAST(SUM(t) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS modularity
       |FROM terms""".stripMargin

  /** Oracle for `conductance`: the LPA chain verbatim, then each
    * community's cut/volume ratio over the DIRECTED edge list (both
    * orientations ⇒ vol(c) counts every incident edge-end and cut(c)
    * counts each undirected cut edge once per side — the 2m-consistent
    * spelling shared with sqlModularity).
    */
  private def sqlConductance: String =
    s"""WITH $sqlLpaCtes,
       |lab AS MATERIALIZED (SELECT node, lbl FROM l$LpaIters),
       |deg AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS d
       |        FROM e GROUP BY 1),
       |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS mm FROM e),
       |cut AS (SELECT la.lbl AS c, CAST(COUNT(*) AS BIGINT) AS ce
       |        FROM e JOIN lab la ON e.src = la.node
       |               JOIN lab lb ON e.dst = lb.node
       |        WHERE la.lbl <> lb.lbl GROUP BY 1),
       |vol AS (SELECT lab.lbl AS c, CAST(COUNT(*) AS BIGINT) AS n_nodes,
       |               CAST(SUM(deg.d) AS BIGINT) AS vv
       |        FROM lab JOIN deg USING (node) GROUP BY 1)
       |SELECT vol.c AS community, n_nodes, vv AS volume,
       |       CAST(COALESCE(cut.ce, 0) AS BIGINT) AS cut_edges,
       |       CASE WHEN least(vv, mm - vv) = 0 THEN NULL
       |            ELSE floor(CAST(COALESCE(cut.ce, 0) AS DOUBLE) /
       |                       least(vv, mm - vv) * 1e6 + 0.5) / 1e6
       |       END AS conductance
       |FROM vol LEFT JOIN cut USING (c) CROSS JOIN m
       |ORDER BY community""".stripMargin

  /** BFS hop count for `bfs_hops` — fixed hops, unrolled oracle. */
  private val BfsHops = 3

  /** Seed count for `closeness_centrality`'s labeled multi-source BFS. */
  private val ClosenessSeeds = 4

  /** Probe-node count for `adamic_adar`'s per-node link predictions. */
  private val AaProbes = 8

  /** Bootstrap replicate count for `poisson_bootstrap_ci`. */
  private val BootstrapReplicates = 32L

  /** Window sizes (days) for `hurst_exponent`'s R/S regression. */
  private val HurstWindows = Seq(8, 16, 32, 64)

  /** Oracle for `bfs_hops`: frontier/visited sets unrolled per hop from
    * the minimum node id; MATERIALIZED (each set is read three times —
    * next frontier, NOT-IN exclusion, and the count row).
    */
  private def sqlBfs: String = {
    val rounds = (1 to BfsHops).map { k =>
      s"""f$k AS MATERIALIZED (
         |  SELECT DISTINCT e.dst AS n FROM e JOIN f${k - 1} ON e.src = f${k - 1}.n
         |  WHERE e.dst NOT IN (SELECT n FROM v${k - 1})),
         |v$k AS MATERIALIZED (
         |  SELECT n FROM v${k - 1} UNION ALL SELECT n FROM f$k)""".stripMargin
    }.mkString(",\n")
    val rows = (1 to BfsHops).map { k =>
      s"""SELECT CAST($k AS BIGINT) AS hop,
         |       (SELECT CAST(COUNT(*) AS BIGINT) FROM f$k) AS frontier_size,
         |       (SELECT CAST(COUNT(*) AS BIGINT) FROM v$k) AS visited_size""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH b AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
       |e AS (SELECT DISTINCT a.pk AS src, c.pk AS dst
       |      FROM b a JOIN b c ON a.ok = c.ok AND a.pk <> c.pk),
       |f0 AS MATERIALIZED (SELECT MIN(src) AS n FROM e),
       |v0 AS (SELECT n FROM f0),
       |$rounds
       |SELECT * FROM ($rows) ORDER BY hop""".stripMargin
  }

  /** Oracle for `pagerank`: the same power iteration unrolled as a CTE
    * chain (DuckDB recursive CTEs reject aggregates in the recursive
    * term, and a fixed iteration count needs no recursion). Double
    * literals are written in e-notation (`1e0`, `85e-2`) so DuckDB
    * parses them as DOUBLE, not DECIMAL — decimal division there would
    * diverge from Spark's double arithmetic.
    */
  /** The PageRank plan, iteration-parameterized so the registered query
    * (PageRankIters) and the checkpoint-stride spec (iters > stride; see
    * CoreQueriesSpec) run the SAME code — the periodic lineage cut is
    * exercised by a test, not dead until someone raises the constant.
    */
  private[operators] def pagerankPlan(s: SparkSession, dir: String,
                                      iters: Int): DataFrame = {
    require(iters >= 1, "pagerankPlan needs at least one iteration")
    // each (src, dst) appears once per co-order, so the count below is
    // the pair's co-order multiplicity
    val pairs = coPurchasePairs(s, dir, canonical = false)
    // ONE edge-sized exchange for the whole query: the (src, dst) →
    // multiplicity groupBy folds into the checkpoint's repartition as a
    // partition-local run-length count (countedCheckpoint) — the old
    // build paid that exchange TWICE (pair-count groupBy, then the
    // bridge repartition). Out-weight normalization moves to the rounds
    // as a NODE-sized (rank ÷ out-weight) join: contribution per edge is
    // (r/wsum)·wt instead of r·(wt/wsum) — the oracle mirrors the same
    // association, so the IEEE op order still matches bit-for-bit.
    val e = org.apache.spark.sql.graftbridge.CheckpointBridge
      .countedCheckpoint(pairs, shufflePartitions(s), Seq("src"),
        Seq("src", "dst"), "wt")
    // out-weight per node: exchange-free off the declared src
    // partitioning; node-sized, checkpointed once, reused every round
    val wsum = e.groupBy(col("src").as("id")).agg(sum("wt").as("wsum"))
      .localCheckpoint(false)
    val n = broadcast(wsum.agg(count(lit(1)).as("n_nodes")))
    var r = wsum.select(col("id")).crossJoin(n)
      .select(col("id"), (lit(1.0) / col("n_nodes")).as("r"))
    for (i <- 1 to iters) {
      // rank ÷ out-weight first (node-sized join), then one streamed
      // pass over the src-partitioned-and-sorted edge checkpoint
      val rw = r.join(wsum, "id")
        .select(col("id").as("src"), (col("r") / col("wsum")).as("rw"))
      // hash-probe the node-sized rank table against the streamed edge
      // checkpoint — the lpaFrom round-join spelling (SMJ's merge costs
      // more per edge row than the per-partition hash probe)
      r = e.join(rw.hint("shuffle_hash"), "src")
        .select(col("dst").as("id"),
          (col("rw") * col("wt")).cast(DecimalType(28, 18)).as("c"))
        .groupBy("id").agg(sum("c").cast("double").as("in_rank"))
        .crossJoin(n)
        .select(col("id"),
          (lit(0.15) / col("n_nodes") + lit(0.85) * col("in_rank")).as("r"))
      // periodic lineage cut so the plan stays O(stride) deep no matter
      // how high the iteration count is raised
      if (i % PageRankCheckpointStride == 0 && i < iters)
        r = r.localCheckpoint(false)
    }
    // floor(x*1e8+0.5)/1e8 (values non-negative) instead of bround:
    // Spark bround is half-even, DuckDB round is half-away — a tie at
    // the 8th decimal would hash-mismatch. Same bit-deterministic form
    // bigram_logprob uses.
    r.select(col("id").as("p_partkey"),
        (floor(col("r") * lit(1e8) + lit(0.5)) / lit(1e8)).as("pagerank"))
      .orderBy("p_partkey")
  }

  private def sqlPagerank: String = {
    val base =
      """WITH b AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |e AS (SELECT a.pk AS src, b2.pk AS dst, COUNT(*) AS wt
        |      FROM b a JOIN b b2 ON a.ok = b2.ok AND a.pk <> b2.pk
        |      GROUP BY 1, 2),
        |deg AS (SELECT src, SUM(wt) AS wsum FROM e GROUP BY src),
        |n AS (SELECT COUNT(*) AS n_nodes FROM deg),
        |r0 AS (SELECT src AS id, 1e0 / n_nodes AS r FROM deg CROSS JOIN n)""".stripMargin
    // (r / wsum) * wt — the rank-÷-out-weight association the Spark
    // rounds use (normalization folded into the node-sized side)
    val iters = (1 to PageRankIters).map { k =>
      s"""r$k AS (SELECT e.dst AS id,
         |  15e-2 / n_nodes + 85e-2 * CAST(SUM(CAST((r${k - 1}.r / deg.wsum) * e.wt AS DECIMAL(28,18))) AS DOUBLE) AS r
         |  FROM e JOIN deg USING (src) JOIN r${k - 1} ON e.src = r${k - 1}.id CROSS JOIN n
         |  GROUP BY e.dst, n_nodes)""".stripMargin
    }.mkString(",\n")
    s"""$base,
       |$iters
       |SELECT id AS p_partkey, floor(r * 1e8 + 5e-1) / 1e8 AS pagerank
       |FROM r$PageRankIters ORDER BY p_partkey""".stripMargin
  }

  /** Oracle for `hits_scores`: the mutual-recursion rounds unrolled as a
    * CTE chain; L1 normalizers are scalar subqueries over the same
    * decimal-routed sums the Spark loop uses.
    */
  private def sqlHits: String = {
    val rounds = (1 to HitsIters).map { i =>
      s"""a${i}r AS (SELECT e.p, CAST(SUM(CAST(h${i - 1}.h AS DECIMAL(28,18))) AS DOUBLE) AS ar
         |          FROM e JOIN h${i - 1} USING (c) GROUP BY e.p),
         |a$i AS (SELECT p, ar / (SELECT CAST(SUM(CAST(ar AS DECIMAL(28,18))) AS DOUBLE)
         |                        FROM a${i}r) AS a FROM a${i}r),
         |h${i}r AS (SELECT e.c, CAST(SUM(CAST(a$i.a AS DECIMAL(28,18))) AS DOUBLE) AS hr
         |          FROM e JOIN a$i USING (p) GROUP BY e.c),
         |h$i AS (SELECT c, hr / (SELECT CAST(SUM(CAST(hr AS DECIMAL(28,18))) AS DOUBLE)
         |                        FROM h${i}r) AS h FROM h${i}r)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (SELECT DISTINCT o_custkey AS c, l_partkey AS p
       |           FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |h0 AS (SELECT DISTINCT c, 1e0 AS h FROM e),
       |$rounds
       |SELECT 'authority' AS kind, p AS id, floor(a * 1e8 + 0.5) / 1e8 AS score FROM a$HitsIters
       |UNION ALL
       |SELECT 'hub' AS kind, c AS id, floor(h * 1e8 + 0.5) / 1e8 AS score FROM h$HitsIters
       |ORDER BY kind, id""".stripMargin
  }

  /** Oracle for `wl_refinement`: the refinement rounds unrolled, with
    * the same commutative multiset-hash arithmetic (SUM promotes to
    * HUGEINT in DuckDB; every mod keeps values exact, and the final cast
    * matches Spark's BIGINT colors).
    */
  private def sqlWl: String = {
    val rounds = (1 to WlRounds).map { k =>
      s"""a$k AS (SELECT e.src, SUM((l${k - 1}.c * $WlM2) % $WlP) AS sh0,
         |              CAST(COUNT(*) AS BIGINT) AS deg
         |       FROM e JOIN l${k - 1} ON e.dst = l${k - 1}.n GROUP BY e.src),
         |l$k AS (SELECT a$k.src AS n,
         |         CAST((((l${k - 1}.c * $WlM) % $WlP + (a$k.sh0 % $WlP)) % $WlP
         |               * $WlM + a$k.deg) % $WlP AS BIGINT) AS c
         |       FROM a$k JOIN l${k - 1} ON a$k.src = l${k - 1}.n)""".stripMargin
    }.mkString(",\n")
    s"""WITH b AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
       |e AS (SELECT DISTINCT a.pk AS src, c.pk AS dst
       |      FROM b a JOIN b c ON a.ok = c.ok AND a.pk <> c.pk),
       |l0 AS (SELECT DISTINCT src AS n, CAST(1 AS BIGINT) AS c FROM e),
       |$rounds
       |SELECT c AS color, CAST(COUNT(*) AS BIGINT) AS n_nodes
       |FROM l$WlRounds GROUP BY c ORDER BY color""".stripMargin
  }

  /** Oracle for `kcore_peel`: the peel rounds unrolled — each round
    * recomputes degrees over the SURVIVING edge set and drops sub-k
    * nodes; per-round survivor counts come from scalar subqueries.
    */
  private def sqlKcore: String = {
    val rounds = (1 to KCorePeelRounds).map { r =>
      s"""adj${r - 1} AS (SELECT src, dst FROM e${r - 1}
         |             UNION ALL SELECT dst, src FROM e${r - 1}),
         |deg${r - 1} AS (SELECT src AS n, COUNT(*) AS d FROM adj${r - 1} GROUP BY 1),
         |keep$r AS (SELECT n FROM deg${r - 1} WHERE d >= $KCoreK),
         |e$r AS (SELECT src, dst FROM e${r - 1}
         |        WHERE src IN (SELECT n FROM keep$r)
         |          AND dst IN (SELECT n FROM keep$r))""".stripMargin
    }.mkString(",\n")
    val rows = (1 to KCorePeelRounds).map { r =>
      s"""SELECT CAST($r AS BIGINT) AS round,
         |       (SELECT CAST(COUNT(*) AS BIGINT) FROM keep$r) AS n_nodes,
         |       (SELECT CAST(COUNT(*) AS BIGINT) FROM e$r) AS n_edges""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH b AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
       |e0 AS (SELECT DISTINCT a.pk AS src, b2.pk AS dst
       |       FROM b a JOIN b b2 ON a.ok = b2.ok AND a.pk < b2.pk),
       |$rounds
       |SELECT * FROM ($rows) ORDER BY round""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // P2 — half-open month-window filter (reference: pipeline.py:23-27)
    "month_window" -> ((s, dir) => {
      t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1995-03-01").cast("timestamp") &&
          col("o_orderdate") < lit("1995-04-01").cast("timestamp"))
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice", "o_orderstatus")
        .orderBy("o_orderkey")
    }),

    // P5 — month filter via date formatting (reference: export_bi_datasets.py:37-42)
    "month_str_filter" -> ((s, dir) => {
      t(s, dir, "orders")
        .filter(date_format(col("o_orderdate"), "yyyy-MM") === "1995-03")
        .select("o_orderkey", "o_orderdate", "o_totalprice")
        .orderBy("o_orderkey")
    }),

    // J1 — FX-style left lookup join + derived column (reference: transform.py:19-46)
    "fx_join" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
        .select("o_orderkey", "o_orderdate", "o_totalprice")
      // orders scales with the fact: no broadcast hint (an explicit hint
      // would force — and fail — the broadcast past the 8GB hard limit;
      // Catalyst broadcasts it automatically while it fits the threshold)
      li.join(o, li("l_orderkey") === o("o_orderkey"), "left")
        .select(
          col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"),
          col("l_discount"),
          (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("amount_net"),
          col("o_orderdate"), col("o_totalprice"))
        // (l_orderkey, l_linenumber) is not unique in the synthetic data —
        // sort by enough columns that any remaining ties are identical rows
        .orderBy("l_orderkey", "l_linenumber", "l_extendedprice", "l_discount")
    }),

    // A1+A2+A3 — grouped-sum pivot, pinned values (reference: transform.py:113-128)
    "kpi_pivot" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy("l_linestatus")
        .pivot("l_returnflag", Seq("A", "N", "R"))
        .agg(sum("l_quantity"))
        .na.fill(0.0, Seq("A", "N", "R"))
        .orderBy("l_linestatus")
    }),

    // A6 — duplicate-key check (reference: quality.py:8-13)
    "dup_check" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy("l_orderkey", "l_suppkey")
        .agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") > 1)
        .orderBy("l_orderkey", "l_suppkey")
    }),

    // J3 — referential-integrity anti-join (reference: pipeline.py:30-47)
    "anti_join" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val li = t(s, dir, "lineitem").select("l_orderkey")
      o.join(li, o("o_orderkey") === li("l_orderkey"), "left_anti")
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
        .orderBy("o_orderkey")
    }),

    // Srt3 — top-k by grouped revenue (reference: build_dashboard.py:100)
    "top_k" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders").select("o_orderkey", "o_custkey")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .groupBy("o_custkey")
        .agg(decSum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4).as("revenue"))
        .orderBy(desc("revenue"), col("o_custkey"))
        .limit(8)
    }),

    // U1 — union of heterogeneous sources normalized to one contract
    // (reference: transform.py:49-95)
    "union_all" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").select(
        lit("lineitem").as("source"),
        concat_ws("-", col("l_orderkey"), col("l_linenumber")).as("document_id"),
        col("l_extendedprice").as("amount"))
      val o = t(s, dir, "orders").select(
        lit("orders").as("source"),
        col("o_orderkey").cast("string").as("document_id"),
        col("o_totalprice").as("amount"))
      li.unionByName(o).orderBy("source", "document_id", "amount")
    }),

    // W1 — surrogate keys (reference: export_powerbi_star_schema.py:83-84).
    // The reference's row_number form survives only on bounded dims
    // (StarExport.scala:61-62, per SURVEY trap #9); registered here over
    // customer — a table that GROWS with the data — it must be the
    // two-phase contiguous-id assignment instead: range partition +
    // per-partition offsets, no single-task global window.
    "surrogate_keys" -> ((s, dir) => {
      SurrogateKeys.contiguousIds(
        t(s, dir, "customer").select("c_custkey", "c_name"),
        Seq("c_custkey"), "entity_key")
        .select("entity_key", "c_custkey", "c_name")
        .orderBy("entity_key")
    }),

    // A5+J5 — DQ severity count summary with PASS/FAIL status
    // (reference: quality.py:205-249)
    "dq_summary" -> ((s, dir) => {
      val sev = t(s, dir, "lineitem").withColumn("severity",
        when(col("l_discount") > 0.08, "ERROR")
          .when(col("l_tax") > 0.05, "WARN")
          .otherwise("OK"))
      sev.groupBy("l_returnflag")
        .agg(
          count(when(col("severity") === "ERROR", 1)).as("error_count"),
          count(when(col("severity") === "WARN", 1)).as("warn_count"),
          count(when(col("severity") =!= "OK", 1)).as("issue_count"))
        .withColumn("status", when(col("error_count") > 0, "FAIL").otherwise("PASS"))
        .orderBy("l_returnflag")
    }),

    // A8 — grouped FIRST, made deterministic as min_by
    // (reference: export_powerbi_star_schema.py:86-92)
    "grouped_first" -> ((s, dir) => {
      t(s, dir, "customer")
        .groupBy("c_nationkey")
        .agg(
          expr("min_by(c_name, c_custkey)").as("first_name"),
          min("c_acctbal").as("min_bal"))
        .orderBy("c_nationkey")
    }),

    // A9+F2+F4 — month dim: grouped MIN over date keys
    // (reference: export_powerbi_star_schema.py:159-170)
    "grouped_min" -> ((s, dir) => {
      t(s, dir, "orders")
        .select(
          date_format(col("o_orderdate"), "yyyy-MM").as("month"),
          date_format(col("o_orderdate"), "yyyyMMdd").cast("int").as("date_key"))
        .groupBy("month")
        .agg(min("date_key").as("month_start_date_key"), count(lit(1)).as("n_orders"))
        .orderBy("month")
    }),

    // A10 — DISTINCT dedup (reference: transform.py:41 et al.)
    "distinct_dedup" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .select("l_returnflag", "l_linestatus")
        .distinct()
        .orderBy("l_returnflag", "l_linestatus")
    }),

    // Srt4+F7 — top-15 by summed absolute spend (reference: build_dashboard.py:162-164)
    "top_expense" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy("l_partkey")
        .agg(decSum(abs(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("total_spend"))
        .orderBy(desc("total_spend"), col("l_partkey"))
        .limit(15)
    }),

    // A4 — margin ratios over exact sums (reference: export_bi_datasets.py:45-55)
    "margin_ratio" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          decSum(col("l_extendedprice"), 2).as("gross"),
          decSum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4).as("net"))
        .withColumn("margin_pct", col("net") / col("gross") * 100)
        .orderBy("l_returnflag")
    }),

    // F5 — month arithmetic: last_day + next-month start (reference: transform.py:70, pipeline.py:26)
    "month_arith" -> ((s, dir) => {
      t(s, dir, "orders")
        .select(
          date_format(col("o_orderdate"), "yyyy-MM").as("month"),
          last_day(col("o_orderdate")).as("month_end"),
          add_months(trunc(col("o_orderdate"), "MM"), 1).as("next_month_start"))
        .distinct()
        .orderBy("month")
    }),

    // P6 — set-membership predicates (reference: quality.py:23,76)
    "isin_filter" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_returnflag").isin("A", "R") && !col("l_linestatus").isin("O"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("cnt"), sum("l_quantity").as("sum_qty"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    // P8+F3 — case-insensitive filters (reference: build_dashboard.py:153-155, quality.py:174-181)
    "ci_filter" -> ((s, dir) => {
      t(s, dir, "customer")
        .filter(lower(col("c_mktsegment")) === "building" && lower(col("c_name")).contains("1"))
        .select("c_custkey", "c_name", "c_mktsegment")
        .orderBy("c_custkey")
    }),

    // Q5-shaped 6-table star join. Only nation (25 rows) and region
    // (5 rows) carry broadcast hints — they are constant-size at any SF.
    // orders/customer/supplier all scale linearly with SF, so they stay
    // unhinted: Catalyst/AQE broadcasts them at small SF and shuffles
    // (or uses bucketed layout) at scale. A forced broadcast of a
    // billion-row customer table is a guaranteed OOM at 100 TB.
    "region_revenue" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders").select("o_orderkey", "o_custkey")
      val c = t(s, dir, "customer").select("c_custkey", "c_nationkey")
      val su = t(s, dir, "supplier").select("s_suppkey", "s_nationkey")
      val n = t(s, dir, "nation")
      val r = t(s, dir, "region").filter(col("r_name") === "ASIA")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(su,
          li("l_suppkey") === su("s_suppkey") && c("c_nationkey") === su("s_nationkey"))
        .join(broadcast(n), su("s_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(decSum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("r_name", "n_name")
    }),

    // Dim-enrich rollup over the part table. part scales linearly with
    // SF (200k·SF rows) — no broadcast hint; AQE broadcasts it at small
    // SF and falls back to a shuffle join when it outgrows the threshold.
    "brand_revenue" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val p = t(s, dir, "part").select("p_partkey", "p_brand")
      li.join(p, li("l_partkey") === p("p_partkey"))
        .groupBy("p_brand")
        .agg(decSum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4).as("revenue"),
          sum("l_quantity").as("sum_qty"))
        .orderBy("p_brand")
    }),

    // Set operations: INTERSECT / EXCEPT over key sets, tagged into one
    // result (distinct-set semantics on both engines)
    "set_ops" -> ((s, dir) => {
      val withOrders = t(s, dir, "orders").select(col("o_custkey").as("custkey")).distinct()
      val building = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey").as("custkey")).distinct()
      withOrders.intersect(building).withColumn("tag", lit("both"))
        .unionByName(withOrders.except(building).withColumn("tag", lit("only_orders")))
        .select("tag", "custkey")
        .orderBy("tag", "custkey")
    }),

    // Hierarchical ROLLUP with grouping_id — subtotals + grand total in
    // one pass (explicit NULLS FIRST ordering aligned across engines)
    "rollup_qty" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(sum("l_quantity").as("sum_qty"), count(lit(1)).as("n"),
          grouping_id().as("gid"))
        .orderBy(col("gid"), col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)
    }),

    // Analytic frame: trailing-3-row rolling revenue per customer over
    // their order history (rowsBetween frame, decimal-routed for parity)
    "rolling_revenue" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(-2, Window.currentRow)
      t(s, dir, "orders")
        .filter(col("o_custkey") < 100)
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
          sum(col("o_totalprice").cast(DecimalType(18, 2))).over(w)
            .cast("double").as("rolling_3"))
        .orderBy("o_custkey", "o_orderdate", "o_orderkey")
    }),

    // Ranking analytics: dense_rank within nation by account balance
    "rank_in_nation" -> ((s, dir) => {
      val w = Window.partitionBy("c_nationkey")
        .orderBy(desc("c_acctbal"), col("c_custkey"))
      t(s, dir, "customer")
        .select(col("c_nationkey"), col("c_custkey"), col("c_acctbal"),
          dense_rank().over(w).cast("long").as("bal_rank"))
        .filter(col("bal_rank") <= 3)
        .orderBy("c_nationkey", "bal_rank", "c_custkey")
    }),

    // SQL entry point: the same engine drives ANSI SQL text via
    // spark.sql over registered views (TPC-H Q1-shaped pricing summary);
    // decimal-routed sums keep the hash cross-engine stable
    "sql_pricing_summary" -> ((s, dir) => {
      t(s, dir, "lineitem").createOrReplaceTempView("v_lineitem")
      s.sql(
        """SELECT l_returnflag, l_linestatus,
          |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
          |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
          |       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
          |       COUNT(*) AS count_order
          |FROM v_lineitem
          |WHERE l_shipdate <= DATE '1998-09-02'
          |GROUP BY l_returnflag, l_linestatus
          |ORDER BY l_returnflag, l_linestatus""".stripMargin)
    }),

    // CUBE over two dimensions: all four grouping sets in one pass
    // (complements rollup_qty's hierarchy; same engine-aligned NULLS
    // FIRST ordering and grouping_id disambiguation)
    "cube_qty" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(sum("l_quantity").as("sum_qty"), count(lit(1)).as("n"),
          grouping_id().as("gid"))
        .orderBy(col("gid"), col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)
    }),

    // Benford-style first-significant-digit profile per order priority —
    // the classic financial-forensics screen. Digit extracted through
    // exact integer/string arithmetic (floor → bigint → first char), not
    // log10 (libm log10 is not guaranteed correctly rounded, so its
    // last-ulp behavior is engine-specific; string-of-integer is exact
    // everywhere). Shares divide exact integer counts in double — one
    // partial-agg pass plus a priority-partitioned window.
    "benford_first_digit" -> ((s, dir) => {
      t(s, dir, "orders")
        .filter(col("o_totalprice") >= 1)
        .withColumn("digit",
          substring(floor(col("o_totalprice")).cast("long").cast("string"), 1, 1)
            .cast("int"))
        .groupBy("o_orderpriority", "digit")
        .agg(count(lit(1)).as("n"))
        .withColumn("share", col("n").cast("double") /
          sum(col("n")).over(Window.partitionBy("o_orderpriority")).cast("double"))
        .orderBy("o_orderpriority", "digit")
    }),

    // Per-group z-score anomaly detection: orders priced > 2σ from the
    // customer's mean. Moments come from one decimal-exact partial
    // aggregation (sum, sum-of-squares, count — order-independent, so
    // shuffle merge order can't perturb the doubles); the per-row z is
    // then pure IEEE row arithmetic, bit-identical on any engine. Two
    // scans + one shuffle on the group key; the stats side is
    // group-cardinality-sized, never fact-sized.
    "zscore_outliers" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val stats = o.groupBy("o_custkey").agg(
        count(lit(1)).as("n"),
        sum(col("o_totalprice").cast(DecimalType(18, 2))).cast("double").as("s1"),
        // scale 2, NOT 8: DuckDB's double→decimal cast scales in double
        // (value·10^scale); at scale 8 the scaled square (~2.5e19) is far
        // past 2^53 and its ulp-4096 noise diverges from Spark's exact
        // BigDecimal conversion. At scale 2 the scaled value (~2.5e13)
        // rounds identically on both engines (and x² can never tie at
        // the half-cent: a² ≡ 50 (mod 100) has no integer solutions).
        sum((col("o_totalprice") * col("o_totalprice")).cast(DecimalType(38, 2)))
          .cast("double").as("s2"))
        .filter(col("n") >= 5)
      o.join(stats, "o_custkey")
        .withColumn("z", (col("o_totalprice") - col("s1") / col("n")) /
          sqrt((col("s2") - col("s1") * col("s1") / col("n")) / (col("n") - lit(1))))
        .filter(abs(col("z")) > lit(2.0))
        .select("o_custkey", "o_orderkey", "o_totalprice", "z")
        .orderBy("o_custkey", "o_orderkey")
    }),

    // Interval/range join via coarse-grid bucketing. Spark has no native
    // range-join operator: the naive `ON price BETWEEN lo AND hi` plans a
    // nested-loop over every (row, band) pair. Instead each row computes
    // its grid cell (one map-side op), each band explodes to the cells it
    // overlaps, and the join is a hash equi-join on the cell with the
    // range predicate left as a residual — exact result, no cross
    // product. Grid step sized so a band covers O(1) cells; the same
    // shape scales to IP-range, validity-interval and geo-bin joins.
    "range_join_bands" -> ((s, dir) => {
      import s.implicits._
      val step = 25
      val bands = Seq(("economy", 900, 930), ("standard", 930, 955),
        ("plus", 955, 980), ("premium", 980, 1000)).toDF("band", "lo", "hi")
      val cells = bands.withColumn("cell",
        explode(sequence(floor(col("lo") / step), floor((col("hi") - 1) / step))))
      val p = t(s, dir, "part")
        .withColumn("cell", floor(col("p_retailprice") / step))
      p.join(broadcast(cells), p("cell") === cells("cell") &&
          col("p_retailprice") >= col("lo") && col("p_retailprice") < col("hi"))
        .groupBy("band")
        .agg(count(lit(1)).as("n_parts"), decSum(col("p_retailprice"), 2).as("sum_price"))
        .orderBy("band")
    }),

    // Streaming-shaped batch analog: tumbling 1h event-time window aggregation
    // over the events table (SURVEY.md §2.9 stretch; batch windowing here,
    // Structured Streaming variant in graft.streaming). Event time comes
    // from the schema-adaptive EventTime helper — the testdata has shipped
    // `ts` as both nanos-long and TIMESTAMP_NTZ across generations.
    "event_window_agg" -> ((s, dir) => {
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val ev = t(s, dir, "events")
      ev
        .withColumn("ts_us", timestamp_micros(graft.sources.EventTime.tsUs(ev)))
        .groupBy(window(col("ts_us"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), decSum(col("value"), 6).as("total_value"))
        .select(
          col("window.start").as("hour_start"), col("event_type"),
          col("n"), col("total_value"))
        .orderBy("hour_start", "event_type")
    }),

    // Streaming-shaped batch analog #2 (SURVEY.md §2.9; r10 verdict ask
    // #7): the DETERMINISTIC batch backfill of the streaming dedup gate
    // (graft.streaming.EventStream.dedupStream =
    // dropDuplicatesWithinWatermark) — the first-admitted event per
    // (user_id, event_type) key under event-time arrival order. For a
    // feed whose event-time span is shorter than the watermark delay,
    // the gate's state never expires, so its admitted set is exactly
    // one row per key: the earliest by (ts_us, event_id). EventStreamSpec
    // ("dedupStream admitted set equals the stream_dedup_admitted
    // backfill") pins the streaming gate to THIS frame over a
    // MemoryStream feed, and this frame is hash-checked against DuckDB —
    // the stateful gate faces the oracle transitively. Scale shape: one
    // groupBy with a partial-aggregable min(struct) — no window, no
    // fact-sized state.
    "stream_dedup_admitted" -> ((s, dir) => {
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val ev = t(s, dir, "events")
      ev
        .withColumn("ts_us", graft.sources.EventTime.tsUs(ev))
        .groupBy(col("user_id"), col("event_type"))
        .agg(min(struct(col("ts_us"), col("event_id"))).as("f"))
        .select(col("user_id"), col("event_type"),
          col("f.ts_us").as("ts_us"), col("f.event_id").as("event_id"))
        .orderBy("user_id", "event_type")
    }),

    // Streaming-shaped batch analog #3 (SURVEY.md §2.9; r11 verdict ask
    // #6): the DETERMINISTIC batch backfill of the custom-state
    // sessionizer (graft.streaming.EventStream.sessionize =
    // flatMapGroupsWithState with event-time timeout, 30-minute gap) —
    // the classic gaps-and-islands spelling: a session breaks where the
    // per-user gap between consecutive events (by (ts_us, event_id))
    // exceeds the gap, and each island rolls up to (start, end, count,
    // value total). On a bounded feed whose watermark has passed every
    // session's end + gap, the stateful gate's emitted set is exactly
    // this frame: EventStreamSpec ("sessionize emitted sessions equal
    // the stream_session_summaries backfill") pins it over a
    // MemoryStream feed, so flatMapGroupsWithState semantics face the
    // DuckDB oracle transitively (the stream_dedup_admitted template).
    // Eligibility: the boundary rule is checked free of the streaming
    // path's ms-truncation ambiguity — no consecutive-event gap in any
    // SF's events table lands within ±1ms of the 30-minute cut
    // (verified over sf0.001/0.01/0.1). Scale shape: ONE user-keyed
    // window (state bounded by per-user event counts, the same key the
    // streaming state store shards on) + one partial-aggregable rollup;
    // nothing fact-sized moves twice.
    "stream_session_summaries" -> ((s, dir) => {
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val gapUs = 30L * 60 * 1000000L
      val ev0 = t(s, dir, "events")
      val ev = ev0
        .withColumn("ts_us", graft.sources.EventTime.tsUs(ev0))
        .select(col("user_id"), col("event_id"), col("ts_us"), col("value"))
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      ev
        .withColumn("new_s",
          coalesce((col("ts_us") - lag(col("ts_us"), 1).over(w) > gapUs)
            .cast("long"), lit(1L)))
        .withColumn("sid", sum(col("new_s"))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("sid"))
        .agg(min(col("ts_us")).as("session_start_us"),
          max(col("ts_us")).as("session_end_us"),
          count(lit(1)).as("n_events"),
          decSum(col("value"), 6).as("total_value"))
        .select(col("user_id"), col("session_start_us"),
          col("session_end_us"), col("n_events"), col("total_value"))
        .orderBy("user_id", "session_start_us")
    }),

    // Streaming-shaped batch analog #4 (SURVEY.md §2.9): the
    // DETERMINISTIC batch backfill of the watermark-bounded
    // stream-stream join (graft.streaming.EventStream.purchaseErrorJoin)
    // — each purchase paired with the same user's error events landing
    // within the hour after it. Per Spark's unified semantics the
    // streaming operator IS this batch plan plus state bookkeeping, and
    // on a time-ordered feed the Append-mode emitted set equals this
    // frame exactly (no row is ever late, and state eviction only drops
    // purchases whose match window the watermark has closed — see
    // EventStreamSpec "purchaseErrorJoin emitted pairs equal the
    // stream_purchase_errors backfill", which pins it over a two-chunk
    // MemoryStream feed). All comparisons are exact integer µs, so the
    // bridge has none of the float-ordering caveats the windowed-agg
    // bridge documents. Scale shape: one shuffle per side on user_id —
    // the same key the streaming state store shards on — with the time
    // range as a post-join predicate; output is match-bounded, state
    // watermark-bounded.
    "stream_purchase_errors" -> ((s, dir) => {
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val hourUs = 3600L * 1000000L
      val ev0 = t(s, dir, "events")
      val ev = ev0
        .withColumn("ts_us", graft.sources.EventTime.tsUs(ev0))
        .select(col("user_id"), col("event_id"), col("event_type"), col("ts_us"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"),
          col("ts_us").as("p_ts_us"))
      val errors = ev.filter(col("event_type") === "error")
        .select(col("user_id").as("e_user"), col("event_id").as("error_id"),
          col("ts_us").as("e_ts_us"))
      purchases.join(errors,
        col("user_id") === col("e_user") &&
          col("e_ts_us") >= col("p_ts_us") &&
          col("e_ts_us") <= col("p_ts_us") + lit(hourUs))
        .select(col("user_id"), col("purchase_id"), col("p_ts_us"),
          col("error_id"), col("e_ts_us"))
        .orderBy("user_id", "purchase_id", "error_id")
    }),

    // Header↔detail reconciliation: FULL OUTER join of order headers
    // against per-order lineitem totals, bucketed into match / mismatch /
    // orphan statuses — the cross-system integrity check every finance
    // pipeline runs. Both sides shuffle once on the join key (the detail
    // side pre-aggregated to key cardinality first); the output is
    // status-cardinality-sized, so nothing fact-sized leaves the join
    // stage. Cent-tolerance compare on decimal-exact sums.
    // Scale 6, NOT the default 4: the 3-factor amount (2dp price × 2dp
    // discount × 2dp tax) is a 6dp-exact value, so 6dp rounding is
    // unambiguous on every engine — at 4dp those values TIE at the
    // half-unit and Spark's shortest-repr double→decimal cast rounds
    // ties differently from DuckDB's scale-in-double cast (same class
    // of trap as label_centroids' scale choice).
    "orders_reconcile" -> ((s, dir) => {
      val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_totalprice"))
      val li = t(s, dir, "lineitem")
        .groupBy(col("l_orderkey").as("o_orderkey"))
        .agg(decSum(col("l_extendedprice") * (lit(1) - col("l_discount"))
          * (lit(1) + col("l_tax")), 6).as("li_total"))
      o.join(li, Seq("o_orderkey"), "full_outer")
        .withColumn("status",
          when(col("o_totalprice").isNull, "orphan_lineitem")
            .when(col("li_total").isNull, "no_lineitems")
            .when(abs(col("o_totalprice") - col("li_total")) <= 0.01, "match")
            .otherwise("mismatch"))
        .groupBy("status")
        .agg(count(lit(1)).as("n"),
          decSum(coalesce(col("o_totalprice"), lit(0.0)), 2).as("order_total"),
          decSum(coalesce(col("li_total"), lit(0.0)), 6).as("lineitem_total"))
        .orderBy("status")
    }),

    // Explicit GROUPING SETS — the general form rollup/cube specialize:
    // exactly the requested grains in one pass (each dimension's marginal
    // plus the grand total; a CUBE would also pay for the detail grain
    // nobody asked for). Same single shuffle as a plain groupBy — Expand
    // replicates rows map-side once per set and the partial aggregates
    // absorb the blow-up before it crosses the wire.
    "grouping_sets_qty" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupingSets(
          Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus")), Seq.empty),
          col("l_returnflag"), col("l_linestatus"))
        .agg(sum("l_quantity").as("sum_qty"), count(lit(1)).as("n"),
          grouping_id().as("gid"))
        .orderBy(col("gid"), col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)
    }),

    // Left-semi join — existence filter with no row duplication: customers
    // with at least one order above the threshold. The semi join stops
    // probing a key at its first match (no groupBy/distinct dedup stage,
    // no fact-side fan-out), both sides shuffle once on the key, and the
    // output stays customer-sized whatever the order multiplicity.
    "semi_join_exists" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val big = t(s, dir, "orders").filter(col("o_totalprice") > 450000)
      c.join(big, c("c_custkey") === big("o_custkey"), "left_semi")
        .select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
        .orderBy("c_custkey")
    }),

    // Blocked fuzzy record linkage: near-identical part names by
    // Levenshtein edit distance. All-pairs edit distance is O(n²·L²);
    // the standard fix is blocking — candidate pairs form only inside
    // (brand, size) blocks, so the self-join is a hash equi-join with
    // the codegen'd levenshtein kernel evaluated as a residual on those
    // pairs only. Pair compute is Σ|block|²: the blocking key is part of
    // the operator's CONTRACT and [[blockSizeGuard]] ENFORCES it in the
    // plan — a block exceeding FuzzyMatchMaxBlock rows fails the job
    // loudly instead of silently going quadratic; a 100 TB deployment
    // widens the key (e.g. a name-prefix attribute) exactly as
    // production linkage pipelines do, trading recall for bounded
    // blocks. Distance 1-3 keeps true variants and drops exact
    // duplicates (dedup_exact's job).
    "fuzzy_name_match" -> ((s, dir) => {
      val p = t(s, dir, "part").select("p_partkey", "p_name", "p_brand", "p_size")
      val guarded = blockSizeGuard(p, Seq("p_brand", "p_size"),
        FuzzyMatchMaxBlock, "fuzzy_name_match")
      val a = guarded.select(col("p_partkey").as("a_key"), col("p_name").as("a_name"),
        col("p_brand"), col("p_size"))
      val b = p.select(col("p_partkey").as("b_key"), col("p_name").as("b_name"),
        col("p_brand"), col("p_size"))
      a.join(b, Seq("p_brand", "p_size"))
        .filter(col("a_key") < col("b_key"))
        // bit-parallel Myers kernel (≡ levenshtein, property-proven in
        // EditDistanceSpec) — same win as edit_distance_dedup's confirm
        .withColumn("dist", graft.functions.EditDistance
          .levenshteinFast(col("a_name"), col("b_name")).cast("long"))
        .filter(col("dist").between(1, 3))
        .select("a_key", "b_key", "a_name", "b_name", "dist")
        .orderBy("a_key", "b_key")
    }),

    // Fellegi–Sunter record-linkage decision model (1969) over the same
    // (brand, size)-blocked candidate pairs as fuzzy_name_match — the
    // layer ABOVE candidate generation: per-field agreement patterns,
    // u-probabilities estimated from the candidate-pair agreement rates
    // (the standard random-pair estimator), fixed m = 0.95, and the
    // log-likelihood match weight Σ ln(m/u) / ln((1−m)/(1−u)) with
    // link / possible / non-link thresholds. Output is pattern-sized
    // (2⁴ rows). Scale shape: ONE blocked pair pass (blockSizeGuard
    // enforced) checkpointed for its two consumers (u rates + pattern
    // counts); everything downstream is 16-row algebra. The 0.95/0.05
    // literals are written as separate constants on both engines
    // (1−0.95 is 0.050000000000000044 in IEEE).
    "linkage_weights" -> ((s, dir) => {
      val p = t(s, dir, "part")
      val guarded = blockSizeGuard(p, Seq("p_brand", "p_size"),
        FuzzyMatchMaxBlock, "linkage_weights")
      def side(df: DataFrame, px: String) = df.select(
        col("p_partkey").as(s"${px}k"), col("p_name").as(s"${px}n"),
        split(col("p_type"), " ").getItem(0).as(s"${px}c"),
        col("p_type").as(s"${px}t"),
        floor(col("p_retailprice").cast("double") / 100).as(s"${px}b"),
        col("p_brand"), col("p_size"))
      val pairs = side(guarded, "a").join(side(p, "b"), Seq("p_brand", "p_size"))
        .filter(col("ak") < col("bk"))
        .select(
          (graft.functions.EditDistance
            .levenshteinFast(col("an"), col("bn")) <= 3).as("name_agree"),
          (col("ac") === col("bc")).as("class_agree"),
          (col("at") === col("bt")).as("type_agree"),
          (col("ab") === col("bb")).as("band_agree"))
        .localCheckpoint(false) // reused: u rates + pattern counts
      def rate(c: Column) =
        sum(when(c, 1L).otherwise(0L)).cast("double") / count(lit(1))
      val u = broadcast(pairs.agg(
        rate(col("name_agree")).as("u_name"),
        rate(col("class_agree")).as("u_class"),
        rate(col("type_agree")).as("u_type"),
        rate(col("band_agree")).as("u_band")))
      def w(agree: Column, uc: Column) =
        when(agree, log(lit(0.95) / uc))
          .otherwise(log(lit(0.05) / (lit(1.0) - uc)))
      pairs.groupBy("name_agree", "class_agree", "type_agree", "band_agree")
        .agg(count(lit(1)).as("n_pairs"))
        .crossJoin(u)
        .select(col("name_agree"), col("class_agree"), col("type_agree"),
          col("band_agree"), col("n_pairs"),
          (floor((w(col("name_agree"), col("u_name")) +
            w(col("class_agree"), col("u_class")) +
            w(col("type_agree"), col("u_type")) +
            w(col("band_agree"), col("u_band"))) * lit(1e6) + lit(0.5)) / lit(1e6))
            .as("weight"))
        .withColumn("decision",
          when(col("weight") > 2, "link")
            .when(col("weight") > 0, "possible").otherwise("non_link"))
        .orderBy("name_agree", "class_agree", "type_agree", "band_agree")
    }),

    // Central tendency per group: exact interpolated median plus a
    // DETERMINISTIC mode — an explicit count + row_number with a
    // lowest-value tiebreak instead of mode(), whose tie choice is
    // engine-defined (the same class of cross-engine trap as HALF_UP vs
    // HALF_EVEN rounding). Median buffers each group's values during the
    // exact percentile — fine for a 3-group output; the 100 TB tier is
    // [[ApproxTiers.medianMode]] (bounded quantile sketch, spec-bounded
    // against this exact form in ApproxTiersSpec). The mode side
    // is two partial-agg-friendly aggregations; interpolation at even
    // counts is (a+b)/2 on integral doubles — exact on both engines.
    "median_mode" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val med = li.groupBy("l_returnflag")
        .agg(median(col("l_quantity")).as("median_qty"))
      val w = Window.partitionBy("l_returnflag")
        .orderBy(desc("n"), col("l_quantity"))
      val mode = li.groupBy("l_returnflag", "l_quantity")
        .agg(count(lit(1)).as("n"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .select(col("l_returnflag"), col("l_quantity").as("mode_qty"),
          col("n").as("mode_n"))
      med.join(mode, "l_returnflag").orderBy("l_returnflag")
    }),

    // Pearson correlation from decimal-exact moments. Native corr() is a
    // streaming-merge aggregate whose partials combine in shuffle order —
    // last-ulp results differ run to run and engine to engine. Instead
    // the five moments (Σx, Σy, Σxy, Σx², Σy², n) come from ONE
    // decimal-exact partial aggregation (order-independent), and r is
    // then pure IEEE row arithmetic on the group-cardinality output —
    // the same exactness pattern as zscore_outliers. Scale 2 products:
    // see the zscore comment for why higher scales diverge cross-engine.
    "corr_pricing" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          decSum(col("l_quantity"), 2).as("sx"),
          decSum(col("l_extendedprice"), 2).as("sy"),
          sum((col("l_quantity") * col("l_extendedprice")).cast(DecimalType(38, 2)))
            .cast("double").as("sxy"),
          sum((col("l_quantity") * col("l_quantity")).cast(DecimalType(38, 2)))
            .cast("double").as("sxx"),
          sum((col("l_extendedprice") * col("l_extendedprice")).cast(DecimalType(38, 2)))
            .cast("double").as("syy"))
        .withColumn("r",
          (col("n") * col("sxy") - col("sx") * col("sy")) /
            (sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
              sqrt(col("n") * col("syy") - col("sy") * col("sy"))))
        .select("l_returnflag", "n", "r")
        .orderBy("l_returnflag")
    }),

    // Month-over-month growth: per-month decimal-exact revenue, then the
    // lag-ratio percent change — the reporting staple. The month axis is
    // calendar-bounded, so the unpartitioned lag window is over months,
    // not facts (same bounded-axis argument as cumulative_users).
    "monthly_growth" -> ((s, dir) => {
      val monthly = t(s, dir, "orders")
        .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
        .agg(decSum(col("o_totalprice"), 2).as("revenue"))
      val w = Window.orderBy("month")
      monthly
        .withColumn("prev_revenue", lag("revenue", 1).over(w))
        .withColumn("growth_pct",
          (col("revenue") - col("prev_revenue")) / col("prev_revenue") * 100.0)
        .orderBy("month")
    }),

    // Correlated-subquery pattern: customers above their own nation's
    // average balance. The decorrelated form Spark and every warehouse
    // plan it to: one group-cardinality aggregate joined back to the
    // fact — written that way directly (avg = decimal-exact sum / count,
    // division in IEEE double on both engines).
    "above_avg_balance" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val stats = c.groupBy(col("c_nationkey").as("nk"))
        .agg((decSum(col("c_acctbal"), 2) / count(lit(1))).as("nation_avg"))
      c.join(stats, col("c_nationkey") === col("nk"))
        .filter(col("c_acctbal") > col("nation_avg"))
        .select("c_custkey", "c_nationkey", "c_acctbal", "nation_avg")
        .orderBy("c_custkey")
    }),

    // Ordered string aggregation: top-3 customer names per nation as one
    // comma string. string_agg's concat order is partition-arrival order
    // (non-deterministic across a shuffle), so the deterministic form is
    // collect_list of (rank, name) structs → sort_array on the rank →
    // array_join: same one-shuffle aggregation, explicit total order.
    // The rank filter itself is a WindowGroupLimit-prunable top-k.
    "topk_string_agg" -> ((s, dir) => {
      val w = Window.partitionBy("c_nationkey")
        .orderBy(desc("c_acctbal"), col("c_custkey"))
      t(s, dir, "customer")
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .groupBy("c_nationkey")
        .agg(array_join(
          transform(sort_array(collect_list(struct(col("rk"), col("c_name")))),
            x => x.getField("c_name")), ",").as("top_names"))
        .orderBy("c_nationkey")
    }),

    // Pivot → unpivot round trip: the wide KPI matrix melted back to long
    // form equals the direct long-form aggregation — pivot and unpivot
    // are inverses up to the never-observed combinations (pivot fills
    // them with null; the melt drops them again). unpivot is a map-side
    // Expand: no shuffle beyond the pivot's own aggregation.
    "unpivot_long" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy("l_linestatus")
        .pivot("l_returnflag", Seq("A", "N", "R"))
        .agg(decSum(col("l_quantity"), 2))
        .unpivot(Array(col("l_linestatus")),
          Array(col("A"), col("N"), col("R")), "l_returnflag", "sum_qty")
        .filter(col("sum_qty").isNotNull)
        .orderBy("l_linestatus", "l_returnflag")
    }),

    // Market-basket co-occurrence: part-type pairs ordered together.
    // Per-order distinct types first (one dedup shuffle on the order
    // key), then the within-order self-join — fan-out is bounded by the
    // per-basket type count (≤ the 6-value type domain, so ≤ 15 pairs
    // per order however big the order), never all-pairs across orders.
    // Output is type-domain²-sized; the part side joins unhinted so AQE
    // broadcasts it while it fits and shuffles beyond.
    "basket_affinity" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").select("l_orderkey", "l_partkey")
      val p = t(s, dir, "part").select("p_partkey", "p_type")
      val baskets = li.join(p, li("l_partkey") === p("p_partkey"))
        .select(col("l_orderkey").as("ok"), col("p_type").as("ty"))
        .distinct()
      val a = baskets.select(col("ok"), col("ty").as("type_a"))
      val b = baskets.select(col("ok"), col("ty").as("type_b"))
      a.join(b, "ok")
        .filter(col("type_a") < col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(count(lit(1)).as("n_orders"))
        .orderBy("type_a", "type_b")
    }),

    // SCD-2 history build: collapse each customer's order stream into
    // runs of unchanged o_orderpriority (change-flag + running-sum, the
    // gaps-and-islands idiom), then derive [valid_from, valid_to)
    // validity intervals with lead() — the warehouse slowly-changing-
    // dimension type-2 load expressed declaratively. Two windows and one
    // aggregation, all partitioned by the natural key: one shuffle on
    // o_custkey, state linear in run count, no per-key iteration.
    "scd2_history" -> ((s, dir) => {
      val byTime = Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
      val runs = t(s, dir, "orders")
        .withColumn("chg",
          when(lag("o_orderpriority", 1).over(byTime).isNull ||
            lag("o_orderpriority", 1).over(byTime) =!= col("o_orderpriority"), 1)
            .otherwise(0))
        .withColumn("version", sum("chg").over(
          byTime.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("o_custkey"), col("version"), col("o_orderpriority"))
        .agg(min("o_orderdate").as("valid_from"), count(lit(1)).as("n_orders"))
      val byVer = Window.partitionBy("o_custkey").orderBy("version")
      runs
        .withColumn("valid_to", lead("valid_from", 1).over(byVer))
        .withColumn("is_current", col("valid_to").isNull)
        .orderBy("o_custkey", "version")
    }),

    // Equal-frequency quartiles: ntile(4) of customers by account balance
    // within nation (custkey tiebreak makes the order total, so bucket
    // assignment is deterministic on any engine), then per-bucket count
    // and decimal-exact balance sum. ntile REQUIRES the full ordered
    // partition (every row gets a bucket), so each nation's rows pass
    // through one sorted task — exact equal-frequency semantics are
    // inherently a per-group sort. The 100 TB tier swaps exact tiles for
    // approx_percentile(0.25/0.5/0.75) cut points + a per-row bucket
    // compare (same plan shape as winsorize_stats' tiering), trading
    // exact frequencies at the boundaries for a constant-memory scan.
    "ntile_quartiles" -> ((s, dir) => {
      val w = Window.partitionBy("c_nationkey")
        .orderBy(desc("c_acctbal"), col("c_custkey"))
      t(s, dir, "customer")
        .withColumn("tile", ntile(4).over(w).cast("long"))
        .groupBy("c_nationkey", "tile")
        .agg(count(lit(1)).as("n"), decSum(col("c_acctbal"), 2).as("bal_sum"))
        .orderBy("c_nationkey", "tile")
    }),

    // Column profiler: null count, exact distinct cardinality, min/max
    // per column, in ONE table pass (the schema-drift / data-contract
    // check run on every ingest). The wide aggregate computes all
    // per-column stats together, then stack() melts to long form
    // map-side — no second scan, no per-column jobs. Exact
    // count_distinct over N columns costs an Expand (N× shuffle rows);
    // the 100 TB tier is [[ApproxTiers.tableProfile]] (HLL, no Expand —
    // plan-asserted in ApproxTiersSpec). min/max cast to string AFTER
    // aggregating, so each engine formats one value, not a column.
    "table_profile" -> ((s, dir) => {
      val aggs = ProfileCols.flatMap { c => Seq(
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}_nulls"),
        count_distinct(col(c)).as(s"${c}_nd"),
        min(col(c)).cast("string").as(s"${c}_min"),
        max(col(c)).cast("string").as(s"${c}_max"))
      }
      val stackExpr = ProfileCols
        .map(c => s"'$c', ${c}_nulls, ${c}_nd, ${c}_min, ${c}_max")
        .mkString(", ")
      t(s, dir, "orders").agg(aggs.head, aggs.tail: _*)
        .selectExpr(s"stack(${ProfileCols.length}, $stackExpr) " +
          "as (col_name, null_cnt, n_distinct, min_val, max_val)")
        .orderBy("col_name")
    }),

    // Incremental aggregate maintenance: merge a materialized base
    // partial with the delta batch's partial instead of rescanning
    // history — the algebraic-aggregate contract (sum of sums, sum of
    // counts) that makes daily 100 TB rollups O(delta) instead of
    // O(history). The base side here recomputes from the period filter
    // only because the testbed has no materialized store; at scale it is
    // a read of yesterday's partials. The ORACLE is the direct
    // recompute over the full table — a green row proves merge ≡ direct
    // cross-engine (decimal partials make the merge order-exact).
    "incremental_agg_merge" -> ((s, dir) => {
      val o = t(s, dir, "orders")
        .withColumn("month", date_format(col("o_orderdate"), "yyyy-MM"))
      def partial(df: DataFrame) = df.groupBy("month")
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast(DecimalType(18, 2))).as("sp"))
      // mid-month cut: month 1996-06 gets a partial on BOTH sides, so
      // the merge path (two partials → one group) is genuinely exercised
      val cut = lit("1996-06-15").cast("timestamp")
      val base = partial(o.filter(col("o_orderdate") < cut))
      val delta = partial(o.filter(col("o_orderdate") >= cut))
      base.unionByName(delta)
        .groupBy("month")
        .agg(sum("n").as("n_orders"), sum("sp").cast("double").as("revenue"))
        .orderBy("month")
    }),

    // Pareto frontier (skyline): orders not strictly dominated on
    // (earlier-or-equal date, higher-or-equal price) — i.e. the
    // record-setting price at each point in time. Two-phase divide &
    // conquer: a month-partitioned pass computes each month's local
    // frontier in parallel (pareto(∪ local paretos) = pareto(all)), then
    // the same rule runs globally over the tiny candidate set — the
    // global window never sees the fact table, only frontier candidates.
    // Within a pass: the default RANGE window frame makes same-date rows
    // peers of the running max (so a same-date higher price dominates),
    // and the per-price min-date keeps exact (date, price) duplicates —
    // neither strictly dominates the other. The oracle is the
    // INDEPENDENT dominance definition (NOT EXISTS), not a mirror of
    // this algorithm.
    "pareto_frontier" -> ((s, dir) => {
      def paretoStage(df: DataFrame, partCols: Seq[String]): DataFrame = {
        val w1 = if (partCols.isEmpty) Window.orderBy("o_orderdate")
        else Window.partitionBy(partCols.map(col): _*).orderBy("o_orderdate")
        val pricePart = partCols :+ "o_totalprice"
        val w2 = Window.partitionBy(pricePart.map(col): _*)
        df.withColumn("maxp", max("o_totalprice").over(w1))
          .filter(col("o_totalprice") === col("maxp"))
          .withColumn("mind", min("o_orderdate").over(w2))
          .filter(col("o_orderdate") === col("mind"))
          .drop("maxp", "mind")
      }
      val o = t(s, dir, "orders")
        .select("o_orderkey", "o_orderdate", "o_totalprice")
        .withColumn("m", date_format(col("o_orderdate"), "yyyy-MM"))
      paretoStage(paretoStage(o, Seq("m")).drop("m"), Nil)
        .orderBy("o_orderdate", "o_orderkey")
    }),

    // Relative standing within a group: percent_rank + cume_dist of each
    // order's price inside its month — the W-family distribution
    // functions (both are (rank−1)/(n−1)-style integer-derived ratios,
    // so cross-engine doubles are exact). Month-bounded window
    // partitions; ties on price rank equal on both engines by the
    // standard rank-with-gaps definition.
    "percentile_rank" -> ((s, dir) => {
      val w = Window.partitionBy("month").orderBy("o_totalprice")
      t(s, dir, "orders")
        .withColumn("month", date_format(col("o_orderdate"), "yyyy-MM"))
        .withColumn("pr", percent_rank().over(w))
        .withColumn("cd", cume_dist().over(w))
        .select("month", "o_orderkey", "o_totalprice", "pr", "cd")
        .orderBy("month", "o_totalprice", "o_orderkey")
    }),

    // Z-order curve value: bit-interleave two key columns (8 bits each
    // from a 256-cell mod grid) — the multi-dimensional layout primitive
    // behind Delta/Iceberg OPTIMIZE ZORDER: sorting/range-partitioning
    // by z co-locates rows close in BOTH keys, so a 2-D box predicate
    // prunes most files (locality spec-asserted in BucketingSpec). Pure
    // per-row integer bit arithmetic, codegen'd, identical on both
    // engines; the query surfaces the lowest z-corner of the curve under
    // a total order.
    "zorder_value" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .withColumn("z", graft.sources.Bucketing.zValue(
          col("l_partkey") % 256, col("l_suppkey") % 256, bits = 8))
        .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "z")
        .orderBy("z", "l_orderkey", "l_linenumber")
        .limit(200)
    }),

    // Triangle counting over the supplier co-supply graph (suppliers
    // linked when they ship the same part) — the standard distributed
    // edge-iterator: project the bipartite (part, supplier) relation to
    // canonical u<v edges, then count closed wedges with two self-joins
    // ordered u<v<w so each triangle is found exactly once. The
    // projection's per-part quadratic fan is the scale hazard: bounded
    // here by a part slice (l_partkey % 100 = 0, the analysis sample;
    // full-graph runs split high-degree parts first — same mitigation
    // family as the skew-salting path). Edge list is lazily
    // materialized once (three self-join consumers).
    "triangle_count" -> ((s, dir) => {
      val ps = t(s, dir, "lineitem")
        .filter(col("l_partkey") % 100 === 0)
        .select(col("l_partkey").as("p"), col("l_suppkey").as("su"))
        .distinct()
        .localCheckpoint(false)
      val e = ps.as("a").join(ps.as("b"),
          col("a.p") === col("b.p") && col("a.su") < col("b.su"))
        .select(col("a.su").as("u"), col("b.su").as("v")).distinct()
        .localCheckpoint(false)
      val tri = e.as("e1")
        .join(e.as("e2"), col("e1.v") === col("e2.u"))
        .join(e.as("e3"),
          col("e3.u") === col("e1.u") && col("e3.v") === col("e2.v"))
        .agg(count(lit(1)).as("n_triangles"))
      tri.crossJoin(e.agg(count(lit(1)).as("n_edges")))
        .crossJoin(ps.select("su").distinct().agg(count(lit(1)).as("n_vertices")))
    }),

    // Key-distribution skew profiler: the diagnostic run BEFORE keying a
    // 100 TB shuffle on a candidate column — per-key row counts, then
    // one-row distribution stats (max/avg ratio, exact p50/p99 of the
    // count distribution, heavy-hitter share). Two-level aggregation:
    // the per-key count is map-side-partial-friendly and its output is
    // key-cardinality-sized, so the second (single-group) pass is cheap;
    // nothing touches the driver. skew_ratio ≫ 1 ⇒ salt that key (the
    // operators/Skew.scala path); ≈ 1 ⇒ plain hash partitioning holds.
    // Doubles: avg/share route through decimal-exact sums; the ratio is
    // a per-row IEEE divide of already-identical doubles.
    "key_skew_profile" -> ((s, dir) => {
      val counts = t(s, dir, "lineitem")
        .groupBy("l_suppkey").agg(count(lit(1)).as("cnt"))
      counts.agg(
        count(lit(1)).as("n_keys"),
        sum("cnt").as("n_rows"),
        max("cnt").as("max_cnt"),
        (sum("cnt") / count(lit(1))).as("avg_cnt"),
        expr("percentile(cnt, 0.5)").as("p50_cnt"),
        expr("percentile(cnt, 0.99)").as("p99_cnt"))
        .withColumn("skew_ratio",
          bround(col("max_cnt") / col("avg_cnt"), 6))
    }),

    // k-anonymity audit (Sweeney 2002) over the (nation, market-segment)
    // quasi-identifier pair — the privacy gate a training corpus's
    // structured sidecar passes before release: per candidate k, how
    // many equivalence classes fall below k members and how many rows
    // those classes expose. Shape: ONE fact shuffle into the
    // QI-class-size table (combinatorially bounded: |nations| ×
    // |segments|, not data-sized), then a tiny explode over the four k
    // thresholds and class-table-sized aggregation — nothing after the
    // first groupBy scales with the fact table.
    "k_anonymity" -> ((s, dir) => {
      val classes = t(s, dir, "customer")
        .groupBy(col("c_nationkey"), col("c_mktsegment"))
        .agg(count(lit(1)).as("class_size"))
        .localCheckpoint(false) // reused: totals + per-k sweep
      val tot = broadcast(classes.agg(
        count(lit(1)).as("n_classes"),
        sum("class_size").as("n_rows"),
        min("class_size").as("min_class_size")))
      classes
        .select(explode(array(lit(2L), lit(5L), lit(10L), lit(20L))).as("k"),
          col("class_size"))
        .groupBy("k")
        .agg(
          sum(when(col("class_size") < col("k"), lit(1L)).otherwise(lit(0L)))
            .as("violating_classes"),
          sum(when(col("class_size") < col("k"), col("class_size"))
            .otherwise(lit(0L))).as("rows_at_risk"))
        .crossJoin(tot)
        .select(col("k"), col("n_classes"), col("min_class_size"),
          col("violating_classes"), col("rows_at_risk"),
          (floor(col("rows_at_risk").cast("double") / col("n_rows") * lit(1e6)
            + lit(0.5)) / lit(1e6)).as("risk_share"),
          (col("min_class_size") >= col("k")).as("k_anonymous"))
        .orderBy("k")
    }),

    // Snapshot diff (CDC-shaped): compare each customer's order profile
    // between two periods via one full-outer join on the key, classify
    // added / removed / changed / unchanged, and count per class. The
    // general table-diff primitive: both sides aggregate to key-sized
    // relations first (map-side partials), the join shuffles on the key
    // once, and the classification is a per-row codegen'd CASE — at
    // 100 TB this is the standard "what changed between yesterday's and
    // today's snapshot" audit with no driver-side state. Sums stay
    // decimal-exact so 'changed' never fires on float noise.
    "snapshot_diff" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      def snap(lo: String, hi: String) = o
        .filter(col("o_orderdate") >= lit(lo).cast("timestamp") &&
          col("o_orderdate") < lit(hi).cast("timestamp"))
        .groupBy("o_custkey")
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast(DecimalType(18, 2))).as("spend"))
      val a = snap("1993-01-01", "1995-01-01")
      val b = snap("1995-01-01", "1997-01-01")
      a.as("a").join(b.as("b"), Seq("o_custkey"), "full_outer")
        .withColumn("status",
          when(col("a.n").isNull, "added")
            .when(col("b.n").isNull, "removed")
            .when(col("a.n") === col("b.n") && col("a.spend") === col("b.spend"),
              "unchanged")
            .otherwise("changed"))
        .groupBy("status")
        .agg(count(lit(1)).as("n_customers"),
          sum(coalesce(col("b.spend"), lit(0).cast(DecimalType(18, 2))) -
            coalesce(col("a.spend"), lit(0).cast(DecimalType(18, 2))))
            .cast("double").as("spend_delta"))
        .orderBy("status")
    }),

    // L93 — PageRank over the part co-purchase graph (parts ordered
    // together link to each other; edge weight = number of shared
    // orders). Fixed-iteration power method, damping 0.85: the graph is
    // symmetric by construction so no dangling-mass term, and the
    // per-order pair fan-out is bounded by basket size (≤ lines/order
    // choose 2) — never a cross-order product. Each iteration is one
    // edge⨝rank shuffle + a partial-agg'd sum per node; the edge list
    // with precomputed transition probabilities is lazily checkpointed
    // once and reused by all iterations (and the rank totals stay a
    // distributed aggregate — nothing rank-sized touches the driver).
    // Per-node contribution sums route through DECIMAL(28,18) so the
    // order-sensitive double additions match the oracle bit-for-bit.
    "pagerank" -> ((s, dir) => pagerankPlan(s, dir, PageRankIters)),

    // L110 — functional-dependency discovery over a fixed candidate-pair
    // list: does column A determine column B (schema/data-contract
    // profiling — an FD that silently breaks is how surrogate keys and
    // denormalized dims rot). Per pair: group by the determinant, count
    // distinct dependents per key (one keyed shuffle each, both columns
    // pruned at the scan), then a 1-row rollup; the P results union to a
    // P-row report. No multi-column count_distinct Expand anywhere.
    "fd_discovery" -> ((s, dir) => {
      val candidates = Seq(
        ("o_orderkey", "o_custkey"),    // key → anything: holds
        ("o_orderkey", "o_orderstatus"),
        ("o_custkey", "o_orderstatus"), // non-key: expected to fail
        ("o_custkey", "o_orderpriority"),
        ("o_orderstatus", "o_orderpriority"))
      // r13: five FD probes over the same four columns — checkpoint the
      // projected scan once instead of replaying scan + fan-out exchange
      // per candidate (guide §5; measured 42 -> ~8 executor-cpu-s)
      val o = t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")
        .localCheckpoint(false)
      candidates.map { case (det, dep) =>
        o.groupBy(det).agg(countDistinct(col(dep)).as("ndep"))
          .agg(count(lit(1)).as("n_keys"),
            sum(when(col("ndep") > 1, 1L).otherwise(0L)).as("n_violating_keys"),
            max("ndep").as("max_dep_per_key"))
          .select(lit(det).as("det_col"), lit(dep).as("dep_col"),
            col("n_keys"), col("n_violating_keys"), col("max_dep_per_key"),
            (col("n_violating_keys") === 0).as("fd_holds"))
      }.reduce(_ unionAll _)
        .orderBy("det_col", "dep_col")
    }),

    // L104 — Theil–Sen robust trend: median of all pairwise slopes of the
    // monthly revenue series — the outlier-immune answer to "is revenue
    // trending up", which one anomalous month cannot drag the way OLS
    // would. The facts aggregate to a CALENDAR-sized series first; the
    // pairwise fan-out is months², also calendar-bounded, built by a
    // broadcast nested-loop over the month-cardinality aggregate (the
    // hint is over an Aggregate — never a fact). Slopes are doubles over
    // decimal-exact revenue; the median interpolates identically to
    // DuckDB's quantile_cont (doc_len_quantiles precedent) and rounds
    // via the bit-deterministic floor form.
    "theilsen_trend" -> ((s, dir) => {
      val m = t(s, dir, "orders")
        .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
        .agg(decSum(col("o_totalprice"), 2).as("rev"))
        .withColumn("idx",
          substring(col("month"), 1, 4).cast("long") * 12 +
            substring(col("month"), 6, 2).cast("long"))
      val a = m.select(col("idx").as("i"), col("rev").as("ri"))
      val b = m.select(col("idx").as("j"), col("rev").as("rj"))
      val nMonths = broadcast(m.agg(count(lit(1)).as("n_months")))
      broadcast(a).join(b, col("i") < col("j"))
        .select(((col("rj") - col("ri")) / (col("j") - col("i"))).as("slope"))
        .agg(count(lit(1)).as("n_pairs"),
          expr("percentile(slope, 0.5)").as("med"))
        .crossJoin(nMonths)
        .select(col("n_months"), col("n_pairs"),
          (floor(col("med") * lit(1e6) + lit(0.5)) / lit(1e6)).as("slope_median"))
    }),

    // L105 — per-node clustering coefficient on the part co-purchase
    // graph: 2·triangles(v) / (deg(v)·(deg(v)−1)) — the local-density
    // companion to the global triangle_count, the standard "is this node
    // in a clique or a hub" graph feature. The UNWEIGHTED distinct edge
    // set (src < dst) comes from the same basket equi-join as pagerank
    // (bounded by basket size, never cross-order). Triangle enumeration
    // is DEGREE-ORDERED (each edge oriented low→high (degree, id), wedges
    // fan out only from a vertex's out-neighborhood): max out-degree is
    // O(√m), so wedge volume is O(m^1.5) instead of the center-vertex
    // Σdeg² — the difference between 12.7s and ~1s on this graph's
    // heavy-tailed degrees, and the only formulation that survives hub
    // vertices at 100 TB. Each triangle is found exactly once and
    // credited to its three corners map-side; keyed shuffles only.
    "clustering_coeff" -> ((s, dir) => {
      // canonical edge checkpoint partitioned by src, so the head-side
      // degree count below aggregates exchange-free
      val e = coPurchaseEdges(s, dir, "src", canonical = true)
      // degree via ONE explode + partial-agg pass over the checkpoint,
      // localCheckpointed because THREE subtrees read it (both
      // orientation joins + the output's degree column) — without the
      // cut each copy re-aggregated the full edge list
      val dk = e.select(explode(array(col("src"), col("dst"))).as("n"))
        .groupBy("n").agg(count(lit(1)).as("d"))
        .localCheckpoint(false)
      val deg = dk.select(col("n").as("src"), col("d").as("degree"))
      // orient each edge from the (degree, id)-smaller endpoint; carry the
      // head's order key so wedge pairs can be emitted in closure order
      val oriented0 = e
        .join(dk.select(col("n").as("src"), col("d").as("ds")), "src")
        .join(dk.select(col("n").as("dst"), col("d").as("dd")), "dst")
        .select(
          when(col("ds") < col("dd") ||
            (col("ds") === col("dd") && col("src") < col("dst")),
            struct(col("src").as("u"), col("dst").as("v"),
              col("dd").as("dv")))
            .otherwise(struct(col("dst").as("u"), col("src").as("v"),
              col("ds").as("dv"))).as("o"))
        .select(col("o.u").as("u"), col("o.v").as("v"), col("o.dv").as("dv"))
      // NOT checkpointed: the only consumer is the merged adjacency
      // pass below (the bloom now builds from `e`, whose src < dst rows
      // are already the canonical (least, greatest) key order), so the
      // r11 bridge checkpoint here paid a cache materialization + a
      // scheduler round-trip to feed a single groupBy that performs the
      // same exchange by u either way.
      val oriented = oriented0
      // Wedge generation + bloom prefilter FUSED into one kernel over
      // rank-sorted adjacency arrays (see WedgeClosures): the join-form
      // wedge self-join was exchange-free but materialized every wedge
      // as a join-machinery row before the bloom dropped ~93% of them
      // (41M wedge rows → 1.9M triangles at sf0.1 — row production was
      // the dominant cost of the whole query). The kernel enumerates
      // the same C(d⁺,2) pairs in a JIT'd loop and emits only bloom
      // survivors; out-degrees are orientation-bounded (≈√m) so the
      // per-row loop and output array stay bounded at any SF. The bloom
      // is CANONICAL-keyed (least, greatest) — FIXED 2^24 bits (2 MB,
      // the k_truss sizing): at 4M expected items Spark picks 3 hash
      // rounds, ~1% fpp at this edge count; the r10 2^23/1-hash config
      // was ~14% fpp, and every false positive is a wedge row through
      // the confirm shuffle. Driver and broadcast state stay constant
      // at any SF, degrading gracefully on bigger graphs — and the
      // exact confirm join below keeps the operator exact regardless of
      // fpp or hash collisions. Broadcast HANDLE, not embedded bytes:
      // see BloomMightContainLong.
      val edgeBloom = s.sparkContext.broadcast(
        e.select(xxhash64(col("src"), col("dst")).as("k"))
          .stat.bloomFilter("k", 4000000L, 1L << 24))
      // ONE adjacency pass serving BOTH consumers: the rank-sorted
      // struct array (sort by (dv, v) = the wedge rank order, so ordered
      // array positions i<j ARE the oriented wedges) and the plain v
      // list the confirm probes (array_contains is order-blind). With
      // `oriented` lazy (see above) the groupBy by u performs the
      // exchange itself — the one u-keyed shuffle of this query. The
      // r10 shape ran the same aggregate twice; checkpointed node-sized
      // rows make it one pass + two cache scans.
      val adjA = oriented.groupBy(col("u"))
        .agg(sort_array(collect_list(struct(col("dv"), col("v")))).as("nbrs"),
          collect_list(col("v")).as("vs"))
        .localCheckpoint(false)
      // exact confirm = membership of b in a's OWN out-neighbor array
      // (the k_truss shape), u→a aliased off the same cached adjacency,
      // so only the bloom-surviving wedge stream shuffles. The r9 shape
      // re-exchanged the full oriented edge list by (a, b) and
      // hash-built it per partition; array_contains is a JIT'd linear
      // scan over an orientation-bounded (≈√m) array, and bloom false
      // positives die right here.
      val tris = adjA
        .select(col("u"), explode(graft.functions.WedgeClosures
          .wedgeClosures(edgeBloom, col("nbrs"))).as("w"))
        .select(col("u"), col("w.a").as("a"), col("w.b").as("b"))
        .join(adjA.select(col("u").as("a"), col("vs")).hint("shuffle_hash"),
          Seq("a"))
        .filter(array_contains(col("vs"), col("b")))
        .select(col("u"), col("a"), col("b"))
      val tri = tris
        .select(explode(array(col("u"), col("a"), col("b"))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("n_triangles"))
      deg.filter(col("degree") >= 2)
        .join(tri, deg("src") === tri("w"), "left")
        .select(col("src").as("p_partkey"), col("degree"),
          coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
        .withColumn("coeff",
          floor(col("n_triangles") * 2.0 / (col("degree") * (col("degree") - 1))
            * lit(1e6) + lit(0.5)) / lit(1e6))
        .orderBy("p_partkey")
    }),

    // Spearman rank correlation of quantity vs unit price — the
    // monotone-association sibling of corr_pricing's Pearson (robust to
    // the price tail; the standard "is the relationship monotone at
    // all" check before fitting anything). NO global sort: average
    // ranks come from per-DISTINCT-value counts + the two-phase
    // exclusivePrefix (below-count b, tie size t → avg rank
    // (2b + t + 1)/2, folded as exact integer DOUBLED ranks so every
    // moment is an exact decimal sum; the ×2 scale cancels in rho).
    // Rank maps join back value-keyed (value-cardinality-sized sides).
    "spearman_rho" -> ((s, dir) => {
      // (A/B'd in r13: checkpointing this projection for its three
      // consumers measured SLOWER — the raw scan replays are column-
      // pruned single-column parquet reads with the rank rollups
      // partial-aggregated inside the scan stage, cheaper than reading
      // the materialized two-column frame back three times.)
      val li = t(s, dir, "lineitem")
        .select(col("l_quantity").as("q"), col("l_extendedprice").as("p"))
      def ranks2(vals: DataFrame, c: String) = {
        val pv = vals.groupBy(c).agg(count(lit(1)).as("cnt"))
        exclusivePrefix(pv, c, Seq("cnt"))
          .select(col(c), (lit(2L) * col("cum_cnt") + col("cnt") + lit(1L))
            .as(s"r2_$c"))
      }
      li.join(ranks2(li.select("q"), "q"), "q")
        .join(ranks2(li.select("p"), "p"), "p")
        .agg(count(lit(1)).as("n"),
          sum(col("r2_q").cast(DecimalType(38, 0))).cast("double").as("sx"),
          sum(col("r2_p").cast(DecimalType(38, 0))).cast("double").as("sy"),
          sum((col("r2_q") * col("r2_q")).cast(DecimalType(38, 0)))
            .cast("double").as("sxx"),
          sum((col("r2_p") * col("r2_p")).cast(DecimalType(38, 0)))
            .cast("double").as("syy"),
          sum((col("r2_q") * col("r2_p")).cast(DecimalType(38, 0)))
            .cast("double").as("sxy"))
        .select(col("n").as("n_rows"),
          (floor((col("n") * col("sxy") - col("sx") * col("sy")) /
            sqrt((col("n") * col("sxx") - col("sx") * col("sx")) *
              (col("n") * col("syy") - col("sy") * col("sy"))) * lit(1e6)
            + lit(0.5)) / lit(1e6)).as("rho"))
    }),

    // Delete-one-group jackknife (Quenouille/Tukey; the grouped
    // variance estimator survey statistics ships): leave each nation's
    // customers out, recompute the mean account balance, and estimate
    // the sampling variance from the spread of the leave-one-out means
    // — the error bar you can put on a mean when rows cluster by group.
    // One fact shuffle into the 25-row per-nation (sum, count) table;
    // every leave-one-out mean is pure algebra on that table plus the
    // broadcast grand totals (no second data pass).
    "jackknife_mean_ci" -> ((s, dir) => {
      val g = t(s, dir, "customer")
        .groupBy("c_nationkey")
        .agg(sum(col("c_acctbal").cast(DecimalType(18, 2))).as("s"),
          count(lit(1)).as("n"))
        .localCheckpoint(false) // reused: totals + per-group algebra
      val tot = broadcast(g.agg(sum("s").as("ts"), sum("n").as("tn"),
        count(lit(1)).as("ng")))
      val loo = g.crossJoin(tot)
        .select(((col("ts") - col("s")).cast("double") / (col("tn") - col("n")))
          .as("m_i"), col("ts"), col("tn"), col("ng"))
        .localCheckpoint(false) // reused: mbar + the deviation sum
      val mb = broadcast(loo.agg(
        (sum(r6(col("m_i")).cast(DecimalType(18, 6))).cast("double") /
          count(lit(1))).as("mbar")))
      loo.crossJoin(mb)
        .agg(max(col("ng")).as("n_groups"),
          (max(col("ts")).cast("double") / max(col("tn"))).as("overall_mean"),
          ((max(col("ng")) - 1).cast("double") / max(col("ng")) *
            sum(r6((col("m_i") - col("mbar")) * (col("m_i") - col("mbar")))
              .cast(DecimalType(18, 6))).cast("double")).as("var_jack"))
        .select(col("n_groups"), r6(col("overall_mean")).as("overall_mean"),
          r6(sqrt(col("var_jack"))).as("jackknife_se"))
    }),

    // Degree assortativity (Newman 2002) of the co-purchase graph: the
    // Pearson correlation of endpoint degrees across edges — positive
    // means hubs link to hubs (assortative), negative hub-to-leaf
    // (disassortative; co-purchase and most similarity graphs are).
    // The one-number answer to "will degree-keyed partitions skew
    // together" before sharding a 100 TB graph pass. Same two-exchange
    // edge build as clustering_coeff (collect_set + explode +
    // dedup-in-bridge); both degree joins are node-table-sized; the
    // undirected symmetrization is a union of two projections of the
    // SAME joined frame; moment sums route through decimal(38,0) on
    // exact integer degrees.
    "degree_assortativity" -> ((s, dir) => {
      val e = coPurchaseEdges(s, dir, "src", canonical = true)
      val dk = e.groupBy(col("src").as("n")).agg(count(lit(1)).as("d"))
        .union(e.groupBy(col("dst").as("n")).agg(count(lit(1)).as("d")))
        .groupBy("n").agg(sum("d").as("d"))
      val ends = e
        .join(dk.select(col("n").as("src"), col("d").as("du")), "src")
        .join(dk.select(col("n").as("dst"), col("d").as("dv")), "dst")
        .select(col("du"), col("dv"))
      val sym = ends.select(col("du").as("x"), col("dv").as("y"))
        .union(ends.select(col("dv").as("x"), col("du").as("y")))
      sym.agg(count(lit(1)).as("m"),
          sum(col("x").cast(DecimalType(38, 0))).cast("double").as("sx"),
          sum((col("x") * col("x")).cast(DecimalType(38, 0))).cast("double")
            .as("sxx"),
          sum((col("x") * col("y")).cast(DecimalType(38, 0))).cast("double")
            .as("sxy"))
        .select(col("m").as("n_edge_ends"),
          (floor((col("m") * col("sxy") - col("sx") * col("sx")) /
            (col("m") * col("sxx") - col("sx") * col("sx")) * lit(1e6)
            + lit(0.5)) / lit(1e6)).as("assortativity"))
    }),

    // L114 — chi-square independence test: is order status independent of
    // order priority (the categorical-association sibling of corr_pricing;
    // in a pipeline this is the "does split correlate with label" audit).
    // Shape: ONE fact shuffle into the 15-cell contingency table; margins,
    // N and dof all derive from that cell table (key-sized aggregates and
    // broadcast 1-row cross joins). Expected counts use double margins
    // (rs*cs would overflow BIGINT at 100 TB row counts); per-cell terms
    // round 6dp before the decimal sum, (o−e)² written as an explicit
    // product — pow() cross-engine parity is not guaranteed, x*x is.
    "chi2_independence" -> ((s, dir) => {
      val obs = t(s, dir, "orders")
        .groupBy(col("o_orderstatus").as("st"), col("o_orderpriority").as("pr"))
        .agg(count(lit(1)).as("n"))
        .localCheckpoint(false) // reused: margins, N, dof
      val rowT = obs.groupBy("st").agg(sum("n").as("rs"))
      val colT = obs.groupBy("pr").agg(sum("n").as("cs"))
      val nTot = broadcast(obs.agg(sum("n").as("nn")))
      val dof = broadcast(
        rowT.agg(count(lit(1)).as("nr"))
          .crossJoin(colT.agg(count(lit(1)).as("nc")))
          .select(((col("nr") - 1) * (col("nc") - 1)).as("dof")))
      obs.join(rowT, "st").join(colT, "pr").crossJoin(nTot)
        .withColumn("e", col("rs").cast("double") * col("cs") / col("nn"))
        .withColumn("term",
          floor((col("n") - col("e")) * (col("n") - col("e")) / col("e")
            * lit(1e6) + lit(0.5)) / lit(1e6))
        .agg(sum("n").as("n_total"),
          sum(col("term").cast(DecimalType(18, 6))).cast("double").as("chi2"))
        .crossJoin(dof)
        .select(col("n_total"), col("dof"), col("chi2"))
    }),

    // L115 — Gini coefficient of customer revenue concentration (the
    // inequality summary behind "how head-heavy is this corpus/market").
    // Facts pre-aggregate per customer (one keyed shuffle), per-distinct-
    // value counts feed the two-phase exclusivePrefix — so the global
    // rank arithmetic runs with NO data-sized single-partition window.
    // Tie-exact rank sum: a k-way tie at value x holding ranks r0+1..r0+k
    // contributes x·(k·r0 + k(k+1)/2) — integer arithmetic plus one IEEE
    // product per row, identical cross-engine; sums route through decimal.
    "gini_concentration" -> ((s, dir) => {
      val rev = t(s, dir, "orders").groupBy("o_custkey")
        .agg(decSum(col("o_totalprice"), 2).as("rev"))
      val perValue = rev.groupBy("rev").agg(count(lit(1)).as("cnt"))
      exclusivePrefix(perValue, "rev", Seq("cnt"))
        .select(col("cnt"),
          (col("rev") * col("cnt")).cast(DecimalType(28, 6)).as("tot"),
          (col("rev") * (col("cnt") * col("cum_cnt") +
            col("cnt") * (col("cnt") + 1) / 2))
            .cast(DecimalType(28, 6)).as("rs"))
        .agg(sum("cnt").as("n"), sum("tot").cast("double").as("t"),
          sum("rs").cast("double").as("s"))
        .select(col("n").as("n_customers"),
          (floor(col("t") * 100 + lit(0.5)) / 100).as("total_rev"),
          (floor((col("s") * 2 / (col("n") * col("t")) -
            (col("n") + lit(1.0)) / col("n")) * lit(1e6) + lit(0.5)) / lit(1e6))
            .as("gini"))
    }),

    // L116 — RFM customer segmentation: recency/frequency/monetary
    // quartiles, the classic marketing-ops partition of a customer base.
    // The fact table flows ONLY through the per-customer keyed aggregate,
    // and the three global ntiles are computed EXACTLY without any
    // customer-sized single-task window: two-phase exclusivePrefix ranks
    // (descending metrics rank on the negated value, ties broken by
    // custkey) feed the closed-form ntileExpr — SQL-standard tile splits,
    // reproduced by the oracle's plain ntile() under the same total
    // order. Three keyed self-joins on custkey re-assemble the tiles.
    "rfm_segments" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val maxd = broadcast(o.agg(max("o_orderdate").as("maxd")))
      val cust = o.groupBy("o_custkey")
        .agg(max("o_orderdate").as("last_d"), count(lit(1)).as("freq"),
          decSum(col("o_totalprice"), 2).as("mon"))
        .crossJoin(maxd)
        .withColumn("recency", datediff(col("maxd"), col("last_d")))
        .localCheckpoint(false) // reused by the three rank passes
      val n = broadcast(cust.agg(count(lit(1)).as("n")))
      def tiles(v: Column, out: String): DataFrame =
        exclusivePrefix(
          cust.select(col("o_custkey"), v.as("v"), lit(1L).as("one")),
          "v", Seq("one"), tieCols = Seq("o_custkey"))
          .crossJoin(n)
          .select(col("o_custkey"),
            ntileExpr(col("cum_one") + 1, col("n"), 4).as(out))
      cust.select("o_custkey", "mon")
        .join(tiles(col("recency").cast("long"), "r_q"), "o_custkey")
        .join(tiles(-col("freq"), "f_q"), "o_custkey")
        .join(tiles(-col("mon"), "m_q"), "o_custkey")
        .groupBy("r_q", "f_q", "m_q")
        .agg(count(lit(1)).as("n_customers"),
          (floor(decSum(col("mon"), 2) / count(lit(1)) * 100 + lit(0.5)) / 100)
            .as("avg_monetary"))
        .orderBy("r_q", "f_q", "m_q")
    }),

    // L117 — two-sample Kolmogorov–Smirnov statistic: does the urgent-
    // priority price distribution differ from the rest (the numeric
    // distribution-shift test next to psi_drift's binned PSI — KS is
    // bin-free, evaluated at every observed value). Per-value group
    // counts (one fact shuffle), CDFs via the two-phase exclusivePrefix
    // (no data-sized window), D = max |F1−F2| as a plain max aggregate.
    // Per-row division is IEEE-identical cross-engine; the max is rounded
    // once at the end.
    // L118 — see lpaPlan's doc above.
    "label_propagation" -> ((s, dir) => lpaPlan(s, dir, LpaIters)),

    "ks_test" -> ((s, dir) => {
      val o = t(s, dir, "orders")
        .select(col("o_totalprice").as("v"),
          (col("o_orderpriority") === "1-URGENT").cast("long").as("g1"))
      val perValue = o.groupBy("v")
        .agg(sum("g1").as("c1"), sum(lit(1L) - col("g1")).as("c2"))
      val tot = broadcast(perValue.agg(
        sum("c1").as("n1"), sum("c2").as("n2")))
      exclusivePrefix(perValue, "v", Seq("c1", "c2"))
        .crossJoin(tot)
        .select(col("n1"), col("n2"),
          abs((col("cum_c1") + col("c1")).cast("double") / col("n1") -
            (col("cum_c2") + col("c2")).cast("double") / col("n2")).as("d"))
        .groupBy("n1", "n2")
        .agg(max("d").as("dmax"))
        .select(col("n1"), col("n2"),
          (floor(col("dmax") * lit(1e6) + lit(0.5)) / lit(1e6)).as("ks_stat"))
    }),

    // L129 — Hurst exponent via rescaled-range (R/S) analysis (Hurst
    // 1951; Mandelbrot–Wallis): is the daily revenue series
    // mean-reverting (H<0.5), a random walk (0.5), or trending/
    // long-range-dependent (H>0.5) — the fractal companion to
    // daily_acf's short-lag view. Per window size w ∈ {8,16,32,64}:
    // full w-day blocks, in-block cumulative deviations (a window
    // PARTITIONED by block, ≤64 rows each), R/S per block from
    // decimal-exact moments, block-averaged 6dp; H = OLS slope of
    // ln(R/S) on ln(w) over the 4 points. The daily index comes from
    // the two-phase exclusivePrefix — no data-sized global window; the
    // calendar-sized daily table is checkpointed once and reused by
    // all four window sizes.
    "hurst_exponent" -> ((s, dir) => {
      val daily = t(s, dir, "orders")
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(decSum(col("o_totalprice"), 2).as("rev"))
        .select(datediff(col("day"), lit("1990-01-01").cast("date"))
          .cast("long").as("dn"), col("rev"), lit(1L).as("one"))
      val idx = exclusivePrefix(daily, "dn", Seq("one"))
        .select(col("cum_one").as("i"), col("rev"))
        .localCheckpoint(false) // reused by every window size
      import org.apache.spark.sql.expressions.Window
      // r13: the four window sizes ran as four separate branch plans
      // (4× the exchanges and AQE stage jobs on a ~2400-row calendar
      // frame — pure per-stage overhead). One (w, b)-keyed pass now
      // computes all four: explode each day to its four (w, block)
      // keys, then the SAME groupBy / block-window / R-S algebra keyed
      // by (w, b) instead of b per branch. Identical values: every
      // per-(w,b) group holds exactly the rows the per-w branch's
      // per-b group held, the block window orders by the same i, the
      // decimal sums are order-insensitive, and /w over the grouping
      // column is the same exact double division as the literal.
      val blocks = idx
        .select(col("i"), col("rev"),
          explode(array(HurstWindows.map(w => lit(w.toLong)): _*)).as("w"))
        .withColumn("b", expr("i DIV w"))
      val bstats = blocks.groupBy("w", "b")
        .agg(count(lit(1)).as("cnt"),
          (sum(col("rev").cast(DecimalType(18, 2))).cast("double") / col("w")).as("m"),
          sum((col("rev") * col("rev")).cast(DecimalType(38, 4)))
            .cast("double").as("s2sum"))
        .filter(col("cnt") === col("w"))
      val win = Window.partitionBy("w", "b").orderBy("i")
      val cd = blocks.join(bstats.select("w", "b", "m"), Seq("w", "b"))
        .withColumn("cd", sum(col("rev") - col("m")).over(win))
      val perW = cd.groupBy("w", "b").agg(max("cd").as("mx"), min("cd").as("mn"))
        .join(bstats, Seq("w", "b"))
        .filter(col("s2sum") / col("w") - col("m") * col("m") > 0)
        .select(col("w"), ((col("mx") - col("mn")) /
          sqrt(col("s2sum") / col("w") - col("m") * col("m"))).as("rs"))
        .groupBy("w")
        .agg(count(lit(1)).as("n_blocks"),
          (sum(r6(col("rs")).cast(DecimalType(18, 6))).cast("double") /
            count(lit(1))).as("rs_avg"))
        .localCheckpoint(false) // reused: points + slope
      val pts = perW.select(col("w"), col("n_blocks"), col("rs_avg"),
        log(col("w").cast("double")).as("x"), log(col("rs_avg")).as("y"))
      val sl = broadcast(pts.agg(count(lit(1)).as("k"),
        sum(r6(col("x")).cast(DecimalType(18, 6))).cast("double").as("sx"),
        sum(r6(col("y")).cast(DecimalType(18, 6))).cast("double").as("sy"),
        sum(r6(col("x") * col("x")).cast(DecimalType(18, 6))).cast("double").as("sxx"),
        sum(r6(col("x") * col("y")).cast(DecimalType(18, 6))).cast("double").as("sxy")))
      pts.crossJoin(sl)
        .select(col("w"), col("n_blocks"), r6(col("rs_avg")).as("rs_avg"),
          r6((col("k") * col("sxy") - col("sx") * col("sy")) /
            (col("k") * col("sxx") - col("sx") * col("sx"))).as("hurst"))
        .orderBy("w")
    }),

    // L127 — grouped OLS: per-brand least-squares fit of line revenue on
    // quantity (slope, intercept, R²) — the GROUP BY regression that
    // turns corr_pricing's single global correlation into a per-segment
    // model table (the "fit a tiny model per key" pattern behind
    // per-source quality calibrations at 100 TB: one keyed shuffle of
    // decimal-exact moments, closed-form algebra on the group-sized
    // result, no iterative solver). Brand comes from the part dim join
    // (auto-broadcast while it fits, keyed shuffle at scale).
    "grouped_ols" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_quantity").as("x"),
          col("l_extendedprice").as("y"))
      val p = t(s, dir, "part").select(col("p_partkey"), col("p_brand"))
      val g = li.join(p, li("l_partkey") === p("p_partkey"))
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n"),
          sum(col("x").cast(DecimalType(18, 2))).cast("double").as("sx"),
          sum(col("y").cast(DecimalType(18, 2))).cast("double").as("sy"),
          sum((col("x") * col("x")).cast(DecimalType(38, 4))).cast("double").as("sxx"),
          sum((col("x") * col("y")).cast(DecimalType(38, 4))).cast("double").as("sxy"),
          sum((col("y") * col("y")).cast(DecimalType(38, 4))).cast("double").as("syy"))
      val cov = col("n") * col("sxy") - col("sx") * col("sy")
      val varx = col("n") * col("sxx") - col("sx") * col("sx")
      val vary = col("n") * col("syy") - col("sy") * col("sy")
      g.select(col("p_brand"), col("n"),
          r6(cov / varx).as("slope"),
          r6((col("sy") - cov / varx * col("sx")) / col("n")).as("intercept"),
          r6(cov * cov / (varx * vary)).as("r2"))
        .orderBy("p_brand")
    }),

    // L128 — Poisson-bootstrap confidence interval for the mean order
    // value (Chamandy et al. 2012, the Google large-scale bootstrap):
    // classical resampling needs n draws WITH replacement per replicate —
    // impossible distributed — but each row's multiplicity in a replicate
    // is ≈ Poisson(1), so one pass emits every (row, replicate) pair
    // with a deterministic hash-inverted Poisson weight and the whole
    // bootstrap becomes B map-side-combined weighted means. The
    // "randomness" is the sampleHash convention (reproducible,
    // oracle-checkable); the CASE thresholds are the Poisson(1) CDF.
    // Replicate fan-out is a constant ×B, the only shuffle is the B-row
    // aggregate, and the quantile runs over B values.
    "poisson_bootstrap_ci" -> ((s, dir) => {
      val b = BootstrapReplicates
      val o = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"))
        .select(col("o_orderkey"), col("o_totalprice"),
          explode(sequence(lit(0L), lit(b - 1L))).as("rep"))
        .withColumn("u",
          ((((col("o_orderkey") % lit(100000007L)) * lit(2654435761L) +
            col("rep") * lit(40503L)) % lit(1000000L)) + lit(0.5)) / lit(1e6))
        .withColumn("w",
          when(col("u") < 0.367879441, 0L).when(col("u") < 0.735758882, 1L)
            .when(col("u") < 0.919698603, 2L).when(col("u") < 0.981011843, 3L)
            .when(col("u") < 0.996340153, 4L).when(col("u") < 0.999405815, 5L)
            .otherwise(6L))
      val means = o.groupBy("rep")
        .agg((sum((col("w") * col("o_totalprice")).cast(DecimalType(28, 2)))
          .cast("double") / sum("w")).as("m"))
      means.agg(count(lit(1)).as("n_replicates"),
          expr("percentile(m, 0.5)").as("mid"),
          expr("percentile(m, 0.025)").as("lo"),
          expr("percentile(m, 0.975)").as("hi"))
        .select(col("n_replicates"), r6(col("mid")).as("boot_median"),
          r6(col("lo")).as("lo_95"), r6(col("hi")).as("hi_95"))
    }),

    // L119 — Kendall tau-b concordance between the monthly revenue and
    // monthly order-count series: the rank-pair sibling of spearman_rho
    // (tau is the probability-of-concordance statistic; spearman the
    // rank Pearson) and the standard "do these two KPIs move together"
    // check when the series is short enough that every pair matters.
    // Facts aggregate to the CALENDAR-sized month table first (one
    // keyed shuffle); the pair fan-out is months² — calendar-bounded —
    // via a broadcast join over the Aggregate (theilsen_trend's shape,
    // never a fact broadcast). Tie counts feed the tau-b denominator;
    // all counting is exact integers, one IEEE sqrt/divide at the end.
    "kendall_tau" -> ((s, dir) => {
      val m = t(s, dir, "orders")
        .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
        .agg(decSum(col("o_totalprice"), 2).as("rev"), count(lit(1)).as("cnt"))
      val nm = broadcast(m.agg(count(lit(1)).as("n_months")))
      val a = m.select(col("month").as("ma"), col("rev").as("ra"), col("cnt").as("ca"))
      val b = m.select(col("month").as("mb"), col("rev").as("rb"), col("cnt").as("cb"))
      val sgn = (col("ra") - col("rb")) * (col("ca") - col("cb"))
      broadcast(a).join(b, col("ma") < col("mb"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(sgn > 0, 1L).otherwise(0L)).as("concordant"),
          sum(when(sgn < 0, 1L).otherwise(0L)).as("discordant"),
          sum(when(col("ra") === col("rb"), 1L).otherwise(0L)).as("tie_x"),
          sum(when(col("ca") === col("cb"), 1L).otherwise(0L)).as("tie_y"))
        .crossJoin(nm)
        .select(col("n_months"), col("n_pairs"), col("concordant"),
          col("discordant"),
          (floor((col("concordant") - col("discordant")) /
            sqrt((col("n_pairs") - col("tie_x")).cast("double") *
              (col("n_pairs") - col("tie_y"))) * lit(1e6) + lit(0.5)) / lit(1e6))
            .as("tau_b"))
    }),

    // L120 — HITS hubs & authorities (Kleinberg 1999) on the BIPARTITE
    // customer→part purchase graph (directed, so hub and authority
    // scores are genuinely different — on the undirected co-purchase
    // graph they'd coincide with eigencentrality). Authorities = parts
    // bought by high-hub customers; hubs = customers buying
    // high-authority parts — the mutual recursion behind "important
    // docs are linked by good indexes". Scale shape = pagerank's: the
    // deduped edge list is bridge-checkpointed TWICE, once partitioned
    // by each iteration join key (in/out adjacency copies), so every
    // round's SMJ streams the edge side exchange-free and only the
    // node-sized score tables shuffle. L1 normalizers are broadcast
    // 1-row decimal-routed aggregates; contribution sums route through
    // DECIMAL(28,18) so order-sensitive additions match the oracle.
    "hits_scores" -> ((s, dir) => {
      val e0 = t(s, dir, "orders")
        .select(col("o_orderkey").as("ok"), col("o_custkey").as("c"))
        .join(t(s, dir, "lineitem")
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("p")), "ok")
        .select("c", "p")
      // (c,p) dedup folds into the first bridge checkpoint's
      // partition-local adjacent dedup (lpaPlan's trick); the second
      // copy re-partitions the already-deduped RDD by the other key
      val ec = org.apache.spark.sql.graftbridge.CheckpointBridge
        .partitionedCheckpoint(e0, shufflePartitions(s), Seq("c"),
          Seq("c", "p"), dedupSorted = true, declareStats = false)
      val ep = org.apache.spark.sql.graftbridge.CheckpointBridge
        .partitionedCheckpoint(ec, shufflePartitions(s), Seq("p"), Seq("p"),
          declareStats = false)
      def l1Norm(df: DataFrame, v: String): DataFrame =
        broadcast(df.agg(
          sum(col(v).cast(DecimalType(28, 18))).cast("double").as("z")))
      var h = ec.select(col("c")).distinct()
        .select(col("c"), lit(1.0).as("h"))
      var a: DataFrame = null
      for (_ <- 1 to HitsIters) {
        // each raw-score table is consumed TWICE (its own L1 normalizer
        // + the normalized division), so without the node-sized lineage
        // cut every round would re-run the whole prefix per consumer —
        // 2^rounds edge joins (measured: 16s vs 4s at sf0.1)
        val araw = ec.join(h.hint("shuffle_hash"), "c").groupBy("p")
          .agg(sum(col("h").cast(DecimalType(28, 18))).cast("double").as("ar"))
          .localCheckpoint(false)
        a = araw.crossJoin(l1Norm(araw, "ar"))
          .select(col("p"), (col("ar") / col("z")).as("a"))
        val hraw = ep.join(a.hint("shuffle_hash"), "p").groupBy("c")
          .agg(sum(col("a").cast(DecimalType(28, 18))).cast("double").as("hr"))
          .localCheckpoint(false)
        h = hraw.crossJoin(l1Norm(hraw, "hr"))
          .select(col("c"), (col("hr") / col("z")).as("h"))
      }
      a.select(lit("authority").as("kind"), col("p").as("id"),
          (floor(col("a") * lit(1e8) + lit(0.5)) / lit(1e8)).as("score"))
        .union(h.select(lit("hub"), col("c"),
          floor(col("h") * lit(1e8) + lit(0.5)) / lit(1e8)))
        .orderBy("kind", "id")
    }),

    // L121 — k-core peeling (Seidman 1983; fixed rounds, see KCoreK):
    // repeatedly drop nodes of degree < k from the co-purchase graph and
    // report survivors per round — the standard "dense core vs fringe"
    // decomposition used to pick seed sets and to bound clique search.
    // Each round = the degree_assortativity degree build (two node-sized
    // partial counts off the src-partitioned edge list) + two keyed
    // semi-joins; the shrinking edge set is localCheckpointed per round
    // so the next round's FOUR consumers (two degree passes, two
    // semi-joins) read a materialized RDD instead of re-running the
    // whole peel chain. Output is round-sized (4 rows), never data-sized.
    "kcore_peel" -> ((s, dir) => {
      var e = coPurchaseEdges(s, dir, "src", canonical = true)
      val rounds = (1 to KCorePeelRounds).map { r =>
        val dk = e.groupBy(col("src").as("n")).agg(count(lit(1)).as("d"))
          .union(e.groupBy(col("dst").as("n")).agg(count(lit(1)).as("d")))
          .groupBy("n").agg(sum("d").as("d"))
        // keep is consumed three times (two semi-joins + the survivor
        // count) — node-sized lineage cut so the two edge-sized degree
        // aggregates behind it run once per round, not three times
        val keep = dk.filter(col("d") >= KCoreK).select("n")
          .localCheckpoint(false)
        e = e.join(keep.withColumnRenamed("n", "src").hint("shuffle_hash"),
            Seq("src"), "left_semi")
          .join(keep.withColumnRenamed("n", "dst").hint("shuffle_hash"),
            Seq("dst"), "left_semi")
          .localCheckpoint(false)
        keep.agg(count(lit(1)).as("n_nodes"))
          .crossJoin(e.agg(count(lit(1)).as("n_edges")))
          .select(lit(r.toLong).as("round"), col("n_nodes"), col("n_edges"))
      }
      rounds.reduce(_ unionAll _).orderBy("round")
    }),

    // L124 — Weisfeiler–Lehman color refinement (1968; the 1-WL test) on
    // the part co-purchase graph: iteratively re-color every node by a
    // hash of (own color, neighbor-color multiset) — after k rounds the
    // color classes are the structural-equivalence classes the WL
    // graph-isomorphism test and WL graph kernels use, and the class
    // histogram is a cheap structural fingerprint for graph-level dedup
    // and drift checks. Same edge build + per-round shape as LPA (one
    // streamed SMJ off the checkpoint + a node-sized color join); the
    // multiset hash is a commutative sum (see WlRounds' doc for the
    // scale rationale). Output is color-class-sized.
    "wl_refinement" -> ((s, dir) => {
      val e = coPurchaseEdges(s, dir, "dst", canonical = false)
      var colors = e.select(col("src").as("n")).distinct()
        .select(col("n"), lit(1L).as("c"))
      for (_ <- 1 to WlRounds) {
        val agg = e.join(colors.withColumnRenamed("n", "dst")
            .hint("shuffle_hash"), "dst")
          .groupBy(col("src"))
          .agg(sum((col("c") * lit(WlM2)) % lit(WlP)).as("sh0"),
            count(lit(1)).as("deg"))
        colors = agg.join(colors.withColumnRenamed("n", "src"), "src")
          .select(col("src").as("n"),
            (((((col("c") * lit(WlM)) % lit(WlP) + col("sh0") % lit(WlP))
              % lit(WlP)) * lit(WlM) + col("deg")) % lit(WlP)).as("c"))
          .localCheckpoint(false) // read twice next round (agg + own join)
      }
      colors.groupBy(col("c").as("color"))
        .agg(count(lit(1)).as("n_nodes"))
        .orderBy("color")
    }),

    // L125 — Newman–Girvan modularity of the LPA communities: Q = Σ_c
    // [e_c/M − (d_c/M)²] over the DIRECTED edge count M — the one-number
    // "are these communities real structure or noise" score, evaluated
    // on the SAME labels label_propagation ships (lpaFrom is shared, not
    // re-derived, so the score can never drift from the query it
    // grades). Shape: the LPA rounds plus one exchange-free endpoint
    // join off the dst-partitioned checkpoint, one edge-sized src join,
    // and community-sized algebra; per-community terms round 6dp before
    // the decimal sum.
    "modularity" -> ((s, dir) => {
      val e = coPurchaseEdges(s, dir, "dst", canonical = false)
      val lab = lpaFrom(e, LpaIters)
        .localCheckpoint(false) // reused: neighbor-label join + own-label join
      // ONE edge-cardinality pass total: the dst-side label join is
      // exchange-free off the checkpoint, and the groupBy(src, lb)
      // count collapses the edge list to per-(node, neighbor-label)
      // rows BEFORE anything moves by src — the previous shape instead
      // re-exchanged the full labeled edge list by src for the second
      // endpoint join (~1s at sf0.1). Everything modularity needs
      // falls out of this one frame after a node-sized label join:
      // intra_c = Σ cnt where la = lb, dsum_c = Σ cnt (degree rides as
      // the row count — both orientations present, so the src-side
      // neighbor count IS the degree), and 2m = Σ dsum.
      val nbr = e
        .join(lab.withColumnRenamed("node", "dst")
          .withColumnRenamed("lbl", "lb").hint("shuffle_hash"), "dst")
        .groupBy(col("src"), col("lb")).agg(count(lit(1)).as("cnt"))
        .join(lab.withColumnRenamed("node", "src")
          .withColumnRenamed("lbl", "la").hint("shuffle_hash"), "src")
      val dc = nbr.groupBy(col("la").as("c"))
        .agg(sum(when(col("la") === col("lb"), col("cnt"))
            .otherwise(lit(0L))).as("ec"),
          sum(col("cnt")).as("dsum"))
        .localCheckpoint(false) // reused: terms + community count + 2m
      val mm = broadcast(dc.agg(sum("dsum").as("mm")))
      val nc = broadcast(dc.agg(count(lit(1)).as("n_communities")))
      dc.crossJoin(mm)
        .select(r6(col("ec").cast("double") / col("mm") -
          (col("dsum").cast("double") / col("mm")) *
            (col("dsum").cast("double") / col("mm")))
          .cast(DecimalType(18, 6)).as("t"))
        .agg(sum("t").cast("double").as("q"))
        .crossJoin(nc).crossJoin(mm)
        .select(col("n_communities"), col("mm").as("n_directed_edges"),
          r6(col("q")).as("modularity"))
    }),

    // L286 — per-community conductance φ(c) = cut(c)/min(vol(c), 2m −
    // vol(c)): the LOCAL quality score next to modularity's single
    // global number — which specific LPA communities are well-separated
    // clusters and which are cut-riddled artifacts (the standard triage
    // before trusting a community for downstream grouping). Same
    // labeled-edge joins and degree rollup as modularity; both
    // orientations present, so every term is 2m-consistent.
    "conductance" -> ((s, dir) => {
      val e = coPurchaseEdges(s, dir, "dst", canonical = false)
      val lab = lpaFrom(e, LpaIters)
        .localCheckpoint(false) // reused: neighbor-label join + own-label join
      // same single edge-cardinality pass as modularity (see there):
      // per-(node, neighbor-label) counts from the exchange-free
      // dst-side join, then cut/volume/node-count all from node-level
      // rollups — no second full-edge exchange, no separate degree pass
      // (degree = Σ neighbor counts, both orientations present)
      val nbr = e
        .join(lab.withColumnRenamed("node", "dst")
          .withColumnRenamed("lbl", "lb").hint("shuffle_hash"), "dst")
        .groupBy(col("src"), col("lb")).agg(count(lit(1)).as("cnt"))
        .join(lab.withColumnRenamed("node", "src")
          .withColumnRenamed("lbl", "la").hint("shuffle_hash"), "src")
      // one community-level rollup directly off the src-partitioned
      // counts (a (src, la) pre-rollup measured slower — its grouping
      // keys no longer matched the (src, lb) partitioning, adding an
      // exchange); n_nodes comes from the NODE-sized label frame (every
      // labeled node has >= 1 neighbor by construction), not a
      // countDistinct over the node×label-cardinality rows — the
      // distinct's expand + second agg phase was pure overhead for the
      // same number
      val nodes = lab.groupBy(col("lbl").as("c"))
        .agg(count(lit(1)).as("n_nodes"))
      val vol = nbr.groupBy(col("la").as("c"))
        .agg(sum("cnt").as("vv"),
          sum(when(col("la") =!= col("lb"), col("cnt"))
            .otherwise(lit(0L))).as("ce"))
        .join(nodes, "c")
        .localCheckpoint(false) // reused: rows + 2m
      val mm = broadcast(vol.agg(sum("vv").as("mm")))
      vol.crossJoin(mm)
        .select(col("c").as("community"), col("n_nodes"),
          col("vv").as("volume"),
          col("ce").as("cut_edges"),
          when(least(col("vv"), col("mm") - col("vv")) === 0, lit(null))
            .otherwise(r6(col("ce").cast("double") /
              least(col("vv"), col("mm") - col("vv"))))
            .as("conductance"))
        .orderBy("community")
    }),

    // L126 — multi-source-free BFS reachability profile: frontier and
    // visited sizes per hop from the minimum node id — the hop-expansion
    // curve ("how fast does the graph ball grow") behind diameter
    // estimation and landmark selection, and the simplest iterated
    // frontier-join primitive (each hop = one streamed SMJ off the
    // src-partitioned checkpoint + a node-sized anti-join against the
    // visited set; frontiers and visited are node-sized checkpoints).
    "bfs_hops" -> ((s, dir) => {
      val e = coPurchaseEdges(s, dir, "src", canonical = false)
      var frontier = e.agg(min(col("src")).as("n")).localCheckpoint(false)
      var visited = frontier
      val rows = (1 to BfsHops).map { k =>
        frontier = e.join(frontier.withColumnRenamed("n", "src"), "src")
          .select(col("dst").as("n")).distinct()
          .join(visited, Seq("n"), "left_anti")
          .localCheckpoint(false) // read 3x: union, next hop, count
        visited = visited.union(frontier)
          .localCheckpoint(false) // read 3x: anti-join, next union, count
        frontier.agg(count(lit(1)).as("frontier_size"))
          .crossJoin(visited.agg(count(lit(1)).as("visited_size")))
          .select(lit(k.toLong).as("hop"), col("frontier_size"),
            col("visited_size"))
      }
      rows.reduce(_ unionAll _).orderBy("hop")
    }),

    // L122 — SAX symbolic discretization (Lin et al. 2003) of the monthly
    // revenue series: z-normalize, compress to SaxSegments PAA segments,
    // map each segment mean to a 4-letter alphabet via the N(0,1)
    // quartile breakpoints — the standard "turn a series into a word"
    // step before motif mining / symbolic indexing. Facts aggregate to
    // the CALENDAR-sized month table once; positions come from a
    // count-of-smaller self-join over that aggregate (zipf_slope's
    // rank-by-join — no global window); moments are decimal-exact
    // (Σrev, Σrev² with identical IEEE products), z rounds 6dp before
    // the per-segment decimal mean.
    "sax_symbols" -> ((s, dir) => {
      val m = t(s, dir, "orders")
        .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
        .agg(decSum(col("o_totalprice"), 2).as("rev"))
        .localCheckpoint(false) // reused: rank self-join (both sides) + moments
      val st = broadcast(m.agg(count(lit(1)).as("n"),
        sum(col("rev").cast(DecimalType(18, 2))).cast("double").as("s1"),
        sum((col("rev") * col("rev")).cast(DecimalType(38, 4)))
          .cast("double").as("s2")))
      val ranked = m.as("x").join(m.as("y"), col("y.month") < col("x.month"), "left")
        .groupBy(col("x.month").as("month"), col("x.rev").as("rev"))
        .agg(count(col("y.month")).as("i"))
      val z = ranked.crossJoin(st)
        .select(expr(s"CAST((i * $SaxSegments) DIV n AS BIGINT)").as("segment"),
          r6((col("rev") - col("s1") / col("n")) /
            sqrt(col("s2") / col("n") -
              (col("s1") / col("n")) * (col("s1") / col("n")))).as("z"))
      z.groupBy("segment")
        .agg(count(lit(1)).as("n_months"),
          (sum(col("z").cast(DecimalType(18, 6))).cast("double") /
            count(lit(1))).as("paa"))
        .select(col("segment"), col("n_months"), r6(col("paa")).as("paa"),
          when(col("paa") < -0.6745, "a").when(col("paa") < 0, "b")
            .when(col("paa") < 0.6745, "c").otherwise("d").as("symbol"))
        .orderBy("segment")
    }),

    // L123 — ε-differentially-private histogram (Dwork et al. 2006):
    // per-nation customer counts + Laplace(1/ε) noise via the
    // inverse-CDF transform of a DETERMINISTIC hash-uniform (see
    // DpEpsilon's doc for the reproducibility-vs-formal-DP trade), then
    // round-and-clamp to a releasable non-negative integer — the privacy
    // sibling of k_anonymity: that one audits, this one releases. Shape:
    // ONE fact shuffle into the nation-sized count table; the noise is a
    // per-row codegen'd expression. The +0.5 hash offset keeps the
    // uniform strictly inside (0,1) so ln never sees 0.
    "dp_histogram" -> ((s, dir) => {
      val u = (((col("c_nationkey") % lit(100000007L)) * lit(2654435761L))
        % lit(1000000L) + lit(0.5)) / lit(1e6) - lit(0.5)
      val arg = lit(1.0) - lit(2.0) * abs(col("u"))
      t(s, dir, "customer")
        .groupBy("c_nationkey").agg(count(lit(1)).as("cnt"))
        .withColumn("u", u)
        .withColumn("noise",
          when(col("u") < 0, log(arg)).otherwise(-log(arg)) / lit(DpEpsilon))
        .select(col("c_nationkey"),
          greatest(lit(0L),
            floor(col("cnt") + col("noise") + lit(0.5)).cast("long"))
            .as("noisy_count"))
        .orderBy("c_nationkey")
    }),

    // L130 — Welch's unequal-variance t-test (Welch 1947): do urgent-
    // priority orders have a different mean price than the rest — the
    // parametric mean-shift companion to ks_test's distribution-free D
    // (same two groups, so the pair reads as one test battery). ONE
    // conditional-aggregate pass over the fact table (no join, no
    // window): per-group n/Σx/Σx² with decimal-exact moments (x·x is
    // one IEEE product, identical cross-engine), then the t statistic
    // and Welch–Satterthwaite dof as closed-form double algebra on the
    // 1-row result. Scale shape: a map-side partial aggregate to a
    // single row — nothing here grows with SF but the scan.
    "welch_ttest" -> ((s, dir) => {
      val g1 = (col("o_orderpriority") === "1-URGENT").cast("long")
      val x = col("o_totalprice")
      val m = t(s, dir, "orders").agg(
        sum(g1).as("n1"), sum(lit(1L) - g1).as("n2"),
        sum(when(g1 === 1L, x).otherwise(lit(0.0)).cast(DecimalType(18, 2)))
          .cast("double").as("s1a"),
        sum(when(g1 === 0L, x).otherwise(lit(0.0)).cast(DecimalType(18, 2)))
          .cast("double").as("s1b"),
        sum(when(g1 === 1L, x * x).otherwise(lit(0.0)).cast(DecimalType(38, 4)))
          .cast("double").as("s2a"),
        sum(when(g1 === 0L, x * x).otherwise(lit(0.0)).cast(DecimalType(38, 4)))
          .cast("double").as("s2b"))
      val m1 = col("s1a") / col("n1")
      val m2 = col("s1b") / col("n2")
      val v1 = (col("s2a") - col("s1a") * col("s1a") / col("n1")) / (col("n1") - 1)
      val v2 = (col("s2b") - col("s1b") * col("s1b") / col("n2")) / (col("n2") - 1)
      val se2 = v1 / col("n1") + v2 / col("n2")
      m.select(col("n1"), col("n2"),
        r6(m1).as("mean_urgent"), r6(m2).as("mean_rest"),
        r6((m1 - m2) / sqrt(se2)).as("t_stat"),
        r6(se2 * se2 /
          ((v1 / col("n1")) * (v1 / col("n1")) / (col("n1") - 1) +
            (v2 / col("n2")) * (v2 / col("n2")) / (col("n2") - 1))).as("dof"))
    }),

    // L131 — one-way ANOVA F statistic (Fisher): does mean order price
    // differ ACROSS the five priority classes — the k-group
    // generalization of welch_ttest's two-group contrast. One keyed
    // fact shuffle into the k-row per-group moment table (n, Σx, Σx²,
    // decimal-exact); grand totals re-aggregate the k rows (decimal
    // casts are exact round-trips — 2dp/4dp values survive double),
    // and SSB/SSW accumulate 6dp-rounded per-group terms through
    // decimal so the k-way addition order can't diverge cross-engine.
    "anova_f" -> ((s, dir) => {
      // sums of squares reach ~1e14 at sf0.01 (and grow with SF): Spark's
      // floor(double) returns LONG, so a 1e6-scaled round would overflow —
      // SS terms round at 1e2 (cents), the small F statistic at 1e6
      val x = col("o_totalprice")
      val grp = t(s, dir, "orders")
        .groupBy(col("o_orderpriority").as("pr"))
        .agg(count(lit(1)).as("n"),
          sum(x.cast(DecimalType(18, 2))).cast("double").as("s1"),
          sum((x * x).cast(DecimalType(38, 4))).cast("double").as("s2"))
        .localCheckpoint(false) // reused: grand totals + per-group terms
      val tot = broadcast(grp.agg(
        count(lit(1)).as("k"), sum("n").as("nn"),
        sum(col("s1").cast(DecimalType(18, 2))).cast("double").as("gs1")))
      grp.crossJoin(tot)
        .select(col("k"), col("nn"),
          r2(col("n") * (col("s1") / col("n") - col("gs1") / col("nn")) *
            (col("s1") / col("n") - col("gs1") / col("nn")))
            .cast(DecimalType(28, 2)).as("ssb_t"),
          r2(col("s2") - col("s1") * col("s1") / col("n"))
            .cast(DecimalType(28, 2)).as("ssw_t"))
        .groupBy("k", "nn")
        .agg(sum("ssb_t").cast("double").as("ssb"),
          sum("ssw_t").cast("double").as("ssw"))
        .select(col("k").as("n_groups"), col("nn").as("n_total"),
          r2(col("ssb")).as("ss_between"), r2(col("ssw")).as("ss_within"),
          r6((col("ssb") / (col("k") - 1)) /
            (col("ssw") / (col("nn") - col("k")))).as("f_stat"))
    }),

    // L284 — Tukey HSD post-hoc (the step AFTER anova_f rejects): every
    // order-priority pair's studentized mean difference
    // q = |x̄_i − x̄_j| / √(MSW/2 · (1/n_i + 1/n_j)) against the pooled
    // within-group variance — which specific groups differ, not just
    // "some group does". One fact pass into k-row moments (shared shape
    // with anova_f), pairs and MSW are pure k²-row algebra.
    "tukey_hsd" -> ((s, dir) => {
      val x = col("o_totalprice")
      val grp = t(s, dir, "orders")
        .groupBy(col("o_orderpriority").as("pr"))
        .agg(count(lit(1)).as("n"),
          sum(x.cast(DecimalType(18, 2))).cast("double").as("s1"),
          sum((x * x).cast(DecimalType(38, 4))).cast("double").as("s2"))
        .localCheckpoint(false) // reused: MSW rollup + both pair sides
      val msw = broadcast(grp
        .select(col("n"), r2(col("s2") - col("s1") * col("s1") / col("n"))
          .cast(DecimalType(28, 2)).as("ssw_t"))
        .agg(sum("n").as("nn"), count(lit(1)).as("k"),
          sum("ssw_t").cast("double").as("ssw"))
        .select((col("ssw") / (col("nn") - col("k"))).as("msw")))
      val a = grp.select(col("pr").as("pr_a"), col("n").as("na"), col("s1").as("sa"))
      val b = grp.select(col("pr").as("pr_b"), col("n").as("nb"), col("s1").as("sb"))
      a.join(b, col("pr_a") < col("pr_b")).crossJoin(msw)
        .select(col("pr_a"), col("pr_b"), col("na"), col("nb"),
          r2(col("sa") / col("na") - col("sb") / col("nb")).as("mean_diff"),
          r6(abs(col("sa") / col("na") - col("sb") / col("nb")) /
            sqrt(col("msw") / 2.0 * (lit(1.0) / col("na") + lit(1.0) / col("nb"))))
            .as("q_stat"))
        .orderBy("pr_a", "pr_b")
    }),

    // L285 — Bartlett's variance-homogeneity test (the parametric
    // sibling of levene_test — more powerful under normality, fragile
    // off it; run both, trust their agreement): the (N−k)·ln(S²_p) −
    // Σ(n_i−1)·ln(s²_i) statistic with its small-sample correction,
    // over per-nation customer balances. One fact pass into k-row
    // moments; every ln term 8dp-floor-rounded into exact decimal sums
    // (the theil_index ln convention) so both engines fold identical
    // rationals.
    "bartlett_test" -> ((s, dir) => {
      val x = col("c_acctbal")
      val grp = t(s, dir, "customer")
        .groupBy(col("c_nationkey").as("nk"))
        .agg(count(lit(1)).as("n"),
          sum(x.cast(DecimalType(18, 2))).cast("double").as("s1"),
          sum((x * x).cast(DecimalType(38, 4))).cast("double").as("s2"))
      grp.select(col("n"),
          ((col("s2") - col("s1") * col("s1") / col("n")) / (col("n") - 1)).as("v"))
        .select(col("n"),
          r2((col("n") - 1) * col("v")).cast(DecimalType(28, 2)).as("ssw_t"),
          r8((col("n") - 1) * log(col("v"))).cast(DecimalType(28, 8)).as("lnv_t"),
          r8(lit(1.0) / (col("n") - 1)).cast(DecimalType(28, 8)).as("inv_t"))
        .agg(sum("n").as("nn"), count(lit(1)).as("k"),
          sum("ssw_t").cast("double").as("ssw"),
          sum("lnv_t").cast("double").as("sum_ln"),
          sum("inv_t").cast("double").as("sum_inv"))
        .select(col("k").as("n_groups"), col("nn").as("n_total"),
          r2(col("ssw") / (col("nn") - col("k"))).as("pooled_var"),
          (col("k") - 1).as("dof"),
          r6(((col("nn") - col("k")) * r8(log(col("ssw") / (col("nn") - col("k"))))
            - col("sum_ln")) /
            (lit(1.0) + (col("sum_inv") - lit(1.0) / (col("nn") - col("k"))) /
              (lit(3.0) * (col("k") - 1)))).as("bartlett_stat"))
    }),

    // L288 — empirical-Bayes rate shrinkage (beta-binomial, plug-in
    // method of moments on the raw per-part return rates): every
    // part's return rate pulled toward the corpus prior by its own
    // evidence mass — shrunk = (r + α̂)/(n + α̂ + β̂) with ν̂ = α̂+β̂ =
    // m(1−m)/s² − 1 from the rate moments. THE small-n leaderboard
    // fix (a 1-for-2 part must not outrank a 40-for-100 one); the
    // plug-in MoM overstates s² by the binomial sampling noise, which
    // only makes the shrinkage conservative — documented trade for a
    // closed-form, iteration-free estimator. One fact rollup to parts;
    // moments are decimal sums of 8dp-rounded rates; prior is a 1-row
    // broadcast.
    "eb_shrinkage" -> ((s, dir) => {
      val rates = t(s, dir, "lineitem")
        .groupBy(col("l_partkey").as("p_partkey"))
        .agg(count(lit(1)).as("n_lines"),
          sum(when(col("l_returnflag") === "R", 1L).otherwise(0L))
            .as("n_returns"))
        .select(col("p_partkey"), col("n_lines"), col("n_returns"),
          (col("n_returns").cast("double") / col("n_lines")).as("p"))
        .localCheckpoint(false) // reused: moments + per-part posterior
      val prior = broadcast(rates
        .select(r8(col("p")).cast(DecimalType(28, 8)).as("pr"),
          r8(col("p") * col("p")).cast(DecimalType(28, 8)).as("pr2"))
        .agg(count(lit(1)).as("k"),
          sum("pr").cast("double").as("sp"),
          sum("pr2").cast("double").as("spp"))
        .select((col("sp") / col("k")).as("m"),
          (col("spp") / col("k") - (col("sp") / col("k")) * (col("sp") / col("k")))
            .as("s2"))
        .select(col("m"), col("s2"),
          // prior-breakdown guard (r9 ADVICE): s² = 0 (all per-part
          // rates equal) would divide by zero, and s² > m(1−m) makes
          // ν̂ ≤ 0 — negative pseudo-counts, a nonsensical prior. NULL
          // the prior in both cases so alpha/beta/shrunk_rate go NULL
          // loudly instead of Infinity/garbage; mirrored in the oracle.
          when(col("s2") <= 0, lit(null).cast("double"))
            .otherwise(col("m") * (lit(1.0) - col("m")) / col("s2") - lit(1.0))
            .as("nu0"))
        .select(col("m"), col("s2"),
          when(col("nu0") <= 0, lit(null).cast("double"))
            .otherwise(col("nu0")).as("nu")))
      rates.crossJoin(prior)
        .select(col("p_partkey"), col("n_lines"), col("n_returns"),
          r6(col("p")).as("raw_rate"),
          r6(col("m") * col("nu")).as("alpha"),
          r6((lit(1.0) - col("m")) * col("nu")).as("beta"),
          r6((col("n_returns") + col("m") * col("nu")) /
            (col("n_lines") + col("nu"))).as("shrunk_rate"))
        .orderBy("p_partkey")
    }),

    // L298 — CUPED variance reduction (Deng et al. 2013): per market
    // segment, adjust each customer's 1996 spend by their 1995
    // pre-period spend — y' = y − θ(x − x̄) with θ = cov(x,y)/var(x) —
    // and report how much metric variance the covariate removes. THE
    // A/B-test sensitivity move (same experiment, tighter confidence,
    // no extra traffic); variance_reduction ≈ ρ² is the value of the
    // pre-period signal. One fact rollup to per-customer year spend,
    // segment-keyed moments (decimal-exact), one-row-per-segment
    // algebra.
    "cuped_adjustment" -> ((s, dir) => {
      val spend = t(s, dir, "orders")
        .filter(year(col("o_orderdate")).isin(1995, 1996))
        .groupBy(col("o_custkey").as("ck"), year(col("o_orderdate")).as("yr"))
        .agg(sum(col("o_totalprice").cast(DecimalType(18, 2)))
          .cast("double").as("s"))
      val xy = spend.filter(col("yr") === 1995)
        .select(col("ck"), col("s").as("x"))
        .join(spend.filter(col("yr") === 1996)
          .select(col("ck"), col("s").as("y")), "ck")
        .join(t(s, dir, "customer")
          .select(col("c_custkey").as("ck"), col("c_mktsegment").as("segment")),
          "ck")
      xy.groupBy("segment")
        .agg(count(lit(1)).as("n"),
          sum(col("x").cast(DecimalType(18, 2))).cast("double").as("sx"),
          sum(col("y").cast(DecimalType(18, 2))).cast("double").as("sy"),
          sum((col("x") * col("x")).cast(DecimalType(38, 4)))
            .cast("double").as("sxx"),
          sum((col("y") * col("y")).cast(DecimalType(38, 4)))
            .cast("double").as("syy"),
          sum((col("x") * col("y")).cast(DecimalType(38, 4)))
            .cast("double").as("sxy"))
        .select(col("segment"), col("n"),
          (col("sxy") / col("n") - col("sx") / col("n") * (col("sy") / col("n")))
            .as("cxy"),
          (col("sxx") / col("n") - col("sx") / col("n") * (col("sx") / col("n")))
            .as("vx"),
          (col("syy") / col("n") - col("sy") / col("n") * (col("sy") / col("n")))
            .as("vy"))
        .select(col("segment"), col("n"),
          r6(col("cxy") / col("vx")).as("theta"),
          r2(col("vy")).as("var_y"),
          r2(col("vy") - col("cxy") * col("cxy") / col("vx")).as("var_adjusted"),
          r6(col("cxy") * col("cxy") / col("vx") / col("vy"))
            .as("variance_reduction"))
        .orderBy("segment")
    }),

    // L296 — Cochran–Armitage trend test: is the lineitem return rate
    // drifting MONOTONICALLY across ship years? The ordered-proportions
    // test a χ² can't express (χ² sees any deviation; CA weights the
    // years linearly so only a trend scores) — the data-drift alarm for
    // a rate metric. T = Σw(r − n·p̄) with integer year scores, so every
    // aggregate is an EXACT integer sum; p̄ and the variance enter only
    // in the final one-row algebra.
    "cochran_armitage" -> ((s, dir) => {
      val yr = t(s, dir, "lineitem")
        .select(year(col("l_shipdate")).as("yr"),
          when(col("l_returnflag") === "R", 1L).otherwise(0L).as("ret"))
        .groupBy("yr").agg(count(lit(1)).as("n"), sum("ret").as("r"))
        .localCheckpoint(false) // reused: score origin + the term sums
      val tot = broadcast(yr.agg(min("yr").as("y0"),
        count(lit(1)).as("k"), sum("n").as("nn"), sum("r").as("rr")))
      yr.crossJoin(tot)
        .select(col("k"), col("nn"), col("rr"),
          ((col("yr") - col("y0")) * col("r")).as("wr"),
          ((col("yr") - col("y0")) * col("n")).as("wn"),
          ((col("yr") - col("y0")) * (col("yr") - col("y0")) * col("n")).as("w2n"))
        .groupBy("k", "nn", "rr")
        .agg(sum("wr").as("swr"), sum("wn").as("swn"), sum("w2n").as("sw2n"))
        .select(col("k").as("n_years"), col("nn").as("n_total"),
          col("rr").as("n_returns"),
          r6(col("rr").cast("double") / col("nn")).as("pbar"),
          r6((col("swr") - col("rr").cast("double") / col("nn") * col("swn")) /
            sqrt(col("rr").cast("double") / col("nn") *
              (lit(1.0) - col("rr").cast("double") / col("nn")) *
              (col("sw2n") - col("swn").cast("double") * col("swn") / col("nn"))))
            .as("z_trend"))
    }),

    // L291 — Wilcoxon signed-rank test on paired customer spend (1995
    // vs 1996): the PAIRED nonparametric sibling of mann_whitney_u —
    // same customer, two periods, so between-customer variance cancels
    // and only the within-pair shift is tested. Average ranks of |d|
    // come from per-DISTINCT-value counts + the two-phase
    // exclusivePrefix as exact DOUBLED integers (the spearman_rho rank
    // machinery — no data-sized global sort); W± and the normal
    // approximation z are closed-form algebra on one aggregate row.
    "wilcoxon_signed_rank" -> ((s, dir) => {
      val spend = t(s, dir, "orders")
        .filter(year(col("o_orderdate")).isin(1995, 1996))
        .groupBy(col("o_custkey").as("ck"), year(col("o_orderdate")).as("yr"))
        .agg(sum(col("o_totalprice").cast(DecimalType(18, 2))).as("s"))
      val pairs = spend.filter(col("yr") === 1995)
        .select(col("ck"), col("s").as("s95"))
        .join(spend.filter(col("yr") === 1996)
          .select(col("ck"), col("s").as("s96")), "ck")
        .select((col("s96") - col("s95")).as("d")) // decimal-exact diffs
        .filter(col("d") =!= 0)
        .withColumn("ad", abs(col("d")))
        .localCheckpoint(false) // reused: value counts + the rank join
      val pv = pairs.groupBy("ad").agg(count(lit(1)).as("cnt"))
      val ranks = exclusivePrefix(pv, "ad", Seq("cnt"))
        .select(col("ad"),
          (lit(2L) * col("cum_cnt") + col("cnt") + lit(1L)).as("r2"))
      pairs.join(ranks, "ad")
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(col("d") > 0, col("r2")).otherwise(0L)).as("w2p"),
          sum(when(col("d") < 0, col("r2")).otherwise(0L)).as("w2m"))
        .select(col("n_pairs"),
          (col("w2p") / lit(2.0)).as("w_plus"),
          (col("w2m") / lit(2.0)).as("w_minus"),
          r6((col("w2p") / lit(2.0) -
            col("n_pairs").cast("double") * (col("n_pairs") + 1) / lit(4.0)) /
            sqrt(col("n_pairs").cast("double") * (col("n_pairs") + 1) *
              (lit(2) * col("n_pairs") + 1) / lit(24.0))).as("z_stat"))
    }),

    // L132 — Cramér's V association sweep: chi2_independence generalized
    // to a PROFILING matrix — every configured categorical column pair
    // in the fact table scored with the effect-size V = √(χ²/(n·(min(r,c)
    // −1))), which (unlike raw χ²) is comparable across pairs with
    // different cardinalities — the "which columns move together" table
    // a schema-drift or feature-selection pass starts from. ONE keyed
    // fact shuffle into the 3-way (status, priority, year) cube; every
    // pair's contingency table re-aggregates that cube (cube-sized, not
    // fact-sized), then margins and χ² exactly as chi2_independence
    // (6dp-rounded terms, decimal sum); the three pair frames union
    // into one result. The oracle derives identical cell counts
    // directly per pair — same integers either way.
    "cramers_v" -> ((s, dir) => {
      val obs3 = t(s, dir, "orders")
        .groupBy(col("o_orderstatus").as("st"), col("o_orderpriority").as("pr"),
          year(col("o_orderdate")).cast("string").as("yr"))
        .agg(count(lit(1)).as("n3"))
        .localCheckpoint(false) // the single fact pass; reused by all pairs
      // r13: the three pair() branches were separate micro-plans over the
      // ~100-row cube — 46 scheduler jobs of per-stage overhead (two
      // checkpoints, two broadcasts and ~5 exchanges EACH). One
      // (col_a, col_b)-keyed pass now computes all three: the cube
      // explodes to its three tagged pair projections, then the same
      // margin/χ² algebra runs grouped by the pair tag. Identical
      // values: each pair group holds exactly the branch's contingency
      // rows, the decimal term sums are order-insensitive, and the
      // margins/dims/N join back per pair instead of cross-joining
      // per-branch singletons.
      val tagged = obs3.select(explode(array(
          struct(lit("o_orderstatus").as("col_a"),
            lit("o_orderpriority").as("col_b"),
            col("st").as("av"), col("pr").as("bv"), col("n3")),
          struct(lit("o_orderstatus").as("col_a"),
            lit("order_year").as("col_b"),
            col("st").as("av"), col("yr").as("bv"), col("n3")),
          struct(lit("o_orderpriority").as("col_a"),
            lit("order_year").as("col_b"),
            col("pr").as("av"), col("yr").as("bv"), col("n3")))).as("x"))
        .select(col("x.col_a").as("col_a"), col("x.col_b").as("col_b"),
          col("x.av").as("av"), col("x.bv").as("bv"), col("x.n3").as("n3"))
      val pk = Seq("col_a", "col_b")
      val obs = tagged.groupBy("col_a", "col_b", "av", "bv")
        .agg(sum("n3").as("n"))
        .localCheckpoint(false) // reused: margins, N, dims
      val rowT = obs.groupBy("col_a", "col_b", "av").agg(sum("n").as("rs"))
        .localCheckpoint(false) // reused: the cell join + the nr dim count
      val colT = obs.groupBy("col_a", "col_b", "bv").agg(sum("n").as("cs"))
        .localCheckpoint(false) // reused: the cell join + the nc dim count
      val nTot = obs.groupBy("col_a", "col_b").agg(sum("n").as("nn"))
      val dims = rowT.groupBy("col_a", "col_b").agg(count(lit(1)).as("nr"))
        .join(colT.groupBy("col_a", "col_b").agg(count(lit(1)).as("nc")), pk)
      obs.join(rowT, pk :+ "av").join(colT, pk :+ "bv").join(nTot, pk)
        .withColumn("e", col("rs").cast("double") * col("cs") / col("nn"))
        .withColumn("term",
          r6((col("n") - col("e")) * (col("n") - col("e")) / col("e")))
        .groupBy("col_a", "col_b")
        .agg(sum("n").as("n_total"),
          sum(col("term").cast(DecimalType(18, 6))).cast("double").as("chi2"))
        .join(dims, pk)
        .select(col("col_a"), col("col_b"),
          col("n_total"),
          ((col("nr") - 1) * (col("nc") - 1)).as("dof"),
          r6(col("chi2")).as("chi2"),
          r6(sqrt(col("chi2") /
            (col("n_total") * (least(col("nr"), col("nc")) - 1))))
            .as("cramers_v"))
        .orderBy("col_a", "col_b")
    }),

    // L136 — Jarque–Bera normality test (Jarque & Bera 1980): skewness
    // and excess kurtosis of the order-price distribution from the
    // first four raw moments, JB = n/6·(S² + K²/4) — the cheap
    // distribution-shape gate run before any test that assumes
    // normality (welch_ttest/anova_f's guard). ONE map-side moment
    // pass: Σx..Σx⁴ decimal-exact (x², x³, x⁴ are integer-valued
    // doubles at this magnitude, so the casts are exact on both
    // engines), central moments and JB as closed-form 1-row algebra.
    "jarque_bera" -> ((s, dir) => {
      val x = col("o_totalprice")
      val m = t(s, dir, "orders").agg(
        count(lit(1)).as("n"),
        sum(x.cast(DecimalType(18, 2))).cast("double").as("s1"),
        sum((x * x).cast(DecimalType(38, 4))).cast("double").as("s2"),
        sum((x * x * x).cast(DecimalType(38, 4))).cast("double").as("s3"),
        sum((x * x * x * x).cast(DecimalType(38, 4))).cast("double").as("s4"))
      val n = col("n").cast("double")
      val mu = col("s1") / n
      val m2 = col("s2") / n - mu * mu
      val m3 = col("s3") / n - lit(3.0) * mu * (col("s2") / n) +
        lit(2.0) * mu * mu * mu
      val m4 = col("s4") / n - lit(4.0) * mu * (col("s3") / n) +
        lit(6.0) * mu * mu * (col("s2") / n) - lit(3.0) * mu * mu * mu * mu
      val sk = m3 / (m2 * sqrt(m2))
      val ku = m4 / (m2 * m2) - lit(3.0)
      m.select(col("n"),
        r6(sk).as("skewness"), r6(ku).as("excess_kurtosis"),
        r6(n / 6 * (sk * sk + ku * ku / 4)).as("jb_stat"))
    }),

    // L137 — Brown–Forsythe/Levene test: are the priority classes'
    // price VARIANCES equal — the spread-homogeneity gate anova_f's
    // equal-variance assumption needs checked before it's trusted
    // (median-centered deviations, the robust Brown–Forsythe form).
    // Group medians come from a per-group sorted window (partitioned
    // by the k groups — the equidepth_histogram class, with the same
    // 100 TB caveat and no global window); |x − med| deviations round
    // 6dp, then the one-way F machinery runs on them with decimal-
    // exact moments.
    "levene_test" -> ((s, dir) => {
      // SS terms reach ~1e14 — Spark's floor(double)→LONG overflows a
      // 1e6-scaled round (the anova_f lesson), so they round at 1e2
      val o = t(s, dir, "orders")
        .select(col("o_orderpriority").as("pr"), col("o_totalprice").as("x"),
          col("o_orderkey").as("ok"))
      val w = Window.partitionBy("pr").orderBy("x", "ok")
      val med = o
        .withColumn("rn", row_number().over(w).cast("long"))
        .withColumn("n", count(lit(1)).over(Window.partitionBy("pr")))
        .filter(col("rn") === expr("(n + 1) DIV 2") ||
          col("rn") === expr("(n + 2) DIV 2"))
        .groupBy("pr")
        .agg((sum(col("x").cast(DecimalType(18, 2))).cast("double") /
          count(lit(1))).as("med"))
      val dev = o.join(med, "pr")
        .select(col("pr"), r6(abs(col("x") - col("med"))).as("d"))
      val grp = dev.groupBy("pr")
        .agg(count(lit(1)).as("n"),
          sum(col("d").cast(DecimalType(18, 6))).cast("double").as("s1"),
          sum((col("d") * col("d")).cast(DecimalType(38, 6))).cast("double")
            .as("s2"))
        .localCheckpoint(false) // reused: grand totals + per-group terms
      val tot = broadcast(grp.agg(
        count(lit(1)).as("k"), sum("n").as("nn"),
        sum(col("s1").cast(DecimalType(18, 6))).cast("double").as("gs1")))
      grp.crossJoin(tot)
        .select(col("k"), col("nn"),
          r2(col("n") * (col("s1") / col("n") - col("gs1") / col("nn")) *
            (col("s1") / col("n") - col("gs1") / col("nn")))
            .cast(DecimalType(28, 2)).as("ssb_t"),
          r2(col("s2") - col("s1") * col("s1") / col("n"))
            .cast(DecimalType(28, 2)).as("ssw_t"))
        .groupBy("k", "nn")
        .agg(sum("ssb_t").cast("double").as("ssb"),
          sum("ssw_t").cast("double").as("ssw"))
        .select(col("k").as("n_groups"), col("nn").as("n_total"),
          r6((col("ssb") / (col("k") - 1)) /
            (col("ssw") / (col("nn") - col("k")))).as("f_stat"))
    }),

    // L133 — Adamic–Adar link prediction (Adamic & Adar 2003): for a
    // node pair sharing neighbors, Σ_z 1/ln(deg z) over the common
    // neighbors z — low-degree shared neighbors count more — the
    // classic "which edge forms next" score over the co-purchase graph
    // (clustering_coeff's graph; AA is its open-wedge complement:
    // triangles measure closure that HAPPENED, AA ranks wedges that
    // haven't closed YET). Registered in the PRODUCT form: top-10
    // predicted links for each of the AaProbes probe nodes — the
    // all-pairs sweep is a non-starter at scale not for the wedge
    // count but for its OUTPUT (measured here: 148M wedges collapse
    // to 100M distinct pairs, and the 100M-group hash aggregate is
    // 20 of the 32 seconds; cosine_topk vs cosine_near_dup is the
    // same trade). Per probe the wedge fan-out is Σ_{z∈N(p)} deg z —
    // probe-bounded; a full-graph sweep shards probes across
    // executors. Per-center terms are SCALED LONGS t8 = round(1e8/ln
    // d) (exact integer adds; s8 ≪ 2⁵³ so /1e8 is an exact double);
    // existing edges drop via a canonical-ordered anti-join;
    // deterministic per-probe top-10 via a probe-partitioned window.
    "adamic_adar" -> ((s, dir) => {
      val e = coPurchaseEdges(s, dir, "src", canonical = true)
      val nbr0 = e.select(col("src").as("z"), col("dst").as("n"))
        .unionAll(e.select(col("dst").as("z"), col("src").as("n")))
      val nbr = org.apache.spark.sql.graftbridge.CheckpointBridge
        .partitionedCheckpoint(nbr0, shufflePartitions(s), Seq("z"), Seq("z"),
          declareStats = false)
      // wedge centers have degree >= 2 by construction, so ln(d) > 0
      val term = nbr.groupBy("z").agg(count(lit(1)).as("d"))
        .select(col("z"),
          floor(lit(1e8) / log(col("d").cast("double")) + lit(0.5)).as("t8"))
      val probes = nbr.select(col("z").as("p")).distinct()
        .orderBy("p").limit(AaProbes)
      // z' ∈ N(p): the probe's common-neighbor candidates, then their
      // neighbors b ∈ N(z') — both joins keyed on the z-partitioned
      // checkpoint; the probe side is a bounded broadcast
      val cand = broadcast(probes)
        .join(nbr, col("p") === col("z"))
        .select(col("p"), col("n").as("w"))
      cand.join(nbr.select(col("z").as("w"), col("n").as("b")), "w")
        .filter(col("b") =!= col("p"))
        .join(term.select(col("z").as("w"), col("t8")).hint("shuffle_hash"), "w")
        .groupBy("p", "b")
        .agg(count(lit(1)).as("n_common"), sum("t8").as("s8"))
        .join(e.select(col("src").as("x"), col("dst").as("y")),
          least(col("p"), col("b")) === col("x") &&
            greatest(col("p"), col("b")) === col("y"), "left_anti")
        .withColumn("rank", row_number().over(
          Window.partitionBy("p").orderBy(desc("s8"), col("b"))).cast("long"))
        .filter(col("rank") <= 10)
        .select(col("p").as("probe"), col("rank"), col("b").as("candidate"),
          col("n_common"), (col("s8").cast("double") / lit(1e8)).as("aa_score"))
        .orderBy("probe", "rank")
    }),

    // L134 — rich-club coefficient (Zhou & Mondragón 2004): for each
    // degree threshold k, the edge density φ(k) = 2·E_k/(N_k(N_k−1))
    // among nodes with degree > k — do the hubs of the co-purchase
    // graph preferentially interconnect (φ rising with k = a "rich
    // club"), the hub-level structure degree_assortativity summarizes
    // in one number. ONE pass: edges annotated with min endpoint
    // degree, all thresholds evaluated as conditional aggregates in a
    // single 1-row reduce (no per-k rescan), exploded to the k-level
    // rows at the end.
    "rich_club" -> ((s, dir) => {
      val ks = Seq(2, 4, 8, 16, 32)
      val e = coPurchaseEdges(s, dir, "src", canonical = true)
      val dk = e.groupBy(col("src").as("n")).agg(count(lit(1)).as("d"))
        .union(e.groupBy(col("dst").as("n")).agg(count(lit(1)).as("d")))
        .groupBy("n").agg(sum("d").as("d"))
        .localCheckpoint(false) // reused: edge annotate + node counts
      val em = e
        .join(dk.select(col("n").as("src"), col("d").as("ds")), "src")
        .join(dk.select(col("n").as("dst"), col("d").as("dd")), "dst")
        .select(least(col("ds"), col("dd")).as("md"))
      val eRow = em.agg(
        sum(when(col("md") > ks.head, 1L).otherwise(0L)).as(s"e_${ks.head}"),
        ks.tail.map(k =>
          sum(when(col("md") > k, 1L).otherwise(0L)).as(s"e_$k")): _*)
      val nRow = dk.agg(
        sum(when(col("d") > ks.head, 1L).otherwise(0L)).as(s"n_${ks.head}"),
        ks.tail.map(k =>
          sum(when(col("d") > k, 1L).otherwise(0L)).as(s"n_$k")): _*)
      eRow.crossJoin(nRow)
        .select(explode(array(ks.map(k => struct(
          lit(k.toLong).as("k"), col(s"n_$k").as("n_nodes"),
          col(s"e_$k").as("n_edges"))): _*)).as("r"))
        .select(col("r.k").as("k"), col("r.n_nodes").as("n_nodes"),
          col("r.n_edges").as("n_edges"),
          when(col("r.n_nodes") >= 2,
            r6(col("r.n_edges").cast("double") * 2 /
              (col("r.n_nodes").cast("double") * (col("r.n_nodes") - 1))))
            .as("phi"))
        .orderBy("k")
    }),

    // L138 — Katz index (Katz 1953) from the AaProbes probe nodes:
    // Σ_k β^k·paths_k(p,b) over walk lengths 1..3 with β = 1/2 (dyadic,
    // so every score is an EXACT double from exact long path counts) —
    // the walk-counting cousin of adamic_adar: AA scores one shared
    // hop, Katz discounts multi-hop reachability mass, and the pair
    // reads as "immediate wedge closure" vs "diffuse influence". Each
    // level is one streamed SMJ off the z-partitioned neighbor
    // checkpoint pushing the probe-bounded count vector one hop; no
    // level materializes more than (probes × nodes) rows.
    "katz_index" -> ((s, dir) => {
      val e = coPurchaseEdges(s, dir, "src", canonical = true)
      val nbr0 = e.select(col("src").as("z"), col("dst").as("n"))
        .unionAll(e.select(col("dst").as("z"), col("src").as("n")))
      val nbr = org.apache.spark.sql.graftbridge.CheckpointBridge
        .partitionedCheckpoint(nbr0, shufflePartitions(s), Seq("z"), Seq("z"),
          declareStats = false)
      val probes = nbr.select(col("z").as("p")).distinct()
        .orderBy("p").limit(AaProbes)
      val v1 = broadcast(probes).join(nbr, col("p") === col("z"))
        .select(col("p"), col("n").as("b"), lit(1L).as("c"))
        .localCheckpoint(false) // reused: level-2 input + the merge
      def step(v: DataFrame): DataFrame = nbr
        .select(col("z").as("b"), col("n").as("b2"))
        .join(v.hint("shuffle_hash"), "b")
        .groupBy(col("p"), col("b2").as("b"))
        .agg(sum("c").as("c"))
        .select(col("p"), col("b"), col("c"))
        .localCheckpoint(false) // reused: next level + the merge
      val v2 = step(v1)
      val v3 = step(v2)
      v1.select(col("p"), col("b"), lit(1L).as("lvl"), col("c"))
        .unionAll(v2.select(col("p"), col("b"), lit(2L).as("lvl"), col("c")))
        .unionAll(v3.select(col("p"), col("b"), lit(3L).as("lvl"), col("c")))
        .filter(col("b") =!= col("p"))
        .groupBy("p", "b")
        .agg(sum(when(col("lvl") === 1, col("c")).otherwise(0L)).as("c1"),
          sum(when(col("lvl") === 2, col("c")).otherwise(0L)).as("c2"),
          sum(when(col("lvl") === 3, col("c")).otherwise(0L)).as("c3"))
        .select(col("p"), col("b"), col("c1"), col("c2"), col("c3"),
          (col("c1") * lit(0.5) + col("c2") * lit(0.25) +
            col("c3") * lit(0.125)).as("katz"))
        .withColumn("rank", row_number().over(
          Window.partitionBy("p").orderBy(desc("katz"), col("b"))).cast("long"))
        .filter(col("rank") <= 10)
        .select(col("p").as("probe"), col("rank"), col("b").as("candidate"),
          col("c1"), col("c2"), col("c3"), col("katz"))
        .orderBy("probe", "rank")
    }),

    // L135 — seeded closeness/harmonic centrality: bfs_hops generalized
    // to a LABELED multi-source BFS — the ClosenessSeeds smallest node
    // ids expand simultaneously (frontier rows carry their seed, so K
    // seeds cost ONE join per hop, not K), and each seed's hop-count
    // profile collapses to n_reached, Σdist, and harmonic centrality
    // Σ_h cnt_h/h — the landmark-distance summary behind "which hub
    // reaches the graph fastest". Per hop: one streamed SMJ off the
    // src-partitioned edge checkpoint + a (seed, node)-keyed anti-join
    // against the visited set; frontiers/visited are (K·node)-sized
    // checkpoints.
    "closeness_centrality" -> ((s, dir) => {
      val e = coPurchaseEdges(s, dir, "src", canonical = false)
      val seeds = e.select(col("src")).distinct()
        .orderBy("src").limit(ClosenessSeeds)
        .select(col("src").as("seed"))
        .localCheckpoint(false) // reused: frontier init + final left join
      var frontier = seeds.select(col("seed"), col("seed").as("n"))
        .localCheckpoint(false)
      var visited = frontier
      val hopCounts = (1 to BfsHops).map { k =>
        frontier = e.join(frontier.withColumnRenamed("n", "src"), "src")
          .select(col("seed"), col("dst").as("n")).distinct()
          .join(visited, Seq("seed", "n"), "left_anti")
          .localCheckpoint(false) // read 3x: union, next hop, count
        visited = visited.union(frontier)
          .localCheckpoint(false) // read 3x: anti-join, next union, count
        frontier.groupBy("seed").agg(count(lit(1)).as(s"h$k"))
      }
      hopCounts.foldLeft(seeds)((acc, hc) =>
          acc.join(hc, Seq("seed"), "left"))
        .select(col("seed") +: (1 to BfsHops).map(k =>
          coalesce(col(s"h$k"), lit(0L)).as(s"h$k")): _*)
        .select(col("seed"),
          (1 to BfsHops).map(k => col(s"h$k")).reduce(_ + _).as("n_reached"),
          (1 to BfsHops).map(k => col(s"h$k") * k).reduce(_ + _).as("sum_dist"),
          r6((1 to BfsHops).map(k => col(s"h$k") / lit(k.toDouble))
            .reduce(_ + _)).as("harmonic"))
        .orderBy("seed")
    }),

    // L151 — k-truss peel (Cohen 2008) on the co-purchase graph: per
    // round, every edge's SUPPORT (triangles through it) is counted and
    // edges with support < k−2 drop; the fixed point is the k-truss —
    // a strictly stronger cohesion filter than kcore_peel (degree can
    // be faked by star hubs; support demands actual triangle mass),
    // the community-core extraction step before mining dense
    // co-purchase clusters. Per round the support count runs the
    // clustering_coeff kernel — degree-ORIENTED wedges (Σ C(deg⁺,2)
    // work, not Σ deg² — a naive both-direction adjacency join
    // measured 40s at sf0.1; this shape runs the round in ~2s), a
    // fixed-1MB bloom prefilter on the closure probe, shuffle_hash
    // confirm — then each triangle votes support to its 3 canonical
    // edges and the edge-keyed threshold re-checkpoints the survivor
    // graph. Never all-pairs; output is round-cardinality.
    "k_truss" -> ((s, dir) => {
      import org.apache.spark.sql.graftbridge.CheckpointBridge
      val e = coPurchaseEdges(s, dir, "src", canonical = true)
      // ONE bloom, canonical-keyed, built from the START edges: rounds
      // only SHRINK the edge set, so the round-1 filter stays a valid
      // superset prefilter for every later round (false positives are
      // exactly confirmed away below). Rebuilding per round — the r8
      // shape — paid a full pass + driver collect each time for nothing.
      // 2^24 bits (2 MB): at 4M expected items Spark picks 3 hash
      // rounds, ~1% fpp at this edge count — the r9 1MB/1-hash config
      // measured ~15% fpp, and every false positive is a row through
      // the confirm shuffle every round. Still SF-constant state.
      val edgeBloom = s.sparkContext.broadcast(
        e.select(xxhash64(col("src"), col("dst")).as("k"))
          .stat.bloomFilter("k", 4000000L, 1L << 24))
      // ONE degree pass + ONE fixed acyclic orientation (start degrees,
      // id tiebreak). Support is orientation-INDEPENDENT — any fixed
      // total order gives each triangle exactly one apex (its rank-min
      // node) and each triangle votes all 3 of its edges — so the
      // survivor set each round is identical to the textbook per-round
      // re-orientation; freezing it drops 3 degree aggs + 6 orientation
      // joins + 2 bloom builds from the loop. The trade: later rounds'
      // wedge fan-out uses slightly stale out-degrees, on inputs that
      // are already a fraction of round 1's.
      val dk = e.select(explode(array(col("src"), col("dst"))).as("n"))
        .groupBy("n").agg(count(lit(1)).as("d"))
      val oriented0 = e
        .join(dk.select(col("n").as("src"), col("d").as("ds")), "src")
        .join(dk.select(col("n").as("dst"), col("d").as("dd")), "dst")
        .select(
          when(col("ds") < col("dd") ||
            (col("ds") === col("dd") && col("src") < col("dst")),
            struct(col("src").as("u"), col("dst").as("v"),
              col("dd").as("dv")))
            .otherwise(struct(col("dst").as("u"), col("src").as("v"),
              col("ds").as("dv"))).as("o"))
        .select(col("o.u").as("u"), col("o.v").as("v"), col("o.dv").as("dv"))
      // NOT checkpointed: unlike clustering_coeff's oriented frame this
      // one has exactly ONE consumer (the merged adjacency pass below —
      // the bloom builds from `e` directly), so a materialization here
      // bought a cache write + an extra scheduler round-trip and saved
      // nothing; the orientation joins flow straight into adjA's
      // exchange by u.
      val oriented = oriented0
      // Triangles are enumerated ONCE, from the start graph: peeling
      // only REMOVES edges, so every triangle alive in a later round is
      // a start-graph triangle whose 3 edges all survived — round r's
      // support recount reduces to subtracting, per edge, the triangles
      // destroyed by round r−1's drops. Re-running the full wedge
      // enumeration per round (the r9 shape: Σ C(d⁺,2) ≈ 36M probes at
      // sf0.1) re-derived a triangle set that shrinks by <6% a round;
      // maintenance instead touches drop-cardinality data (62k/22k/1.7k
      // edges at sf0.1). At 100 TB the triangle list is fact-sized but
      // distributed and u-partitioned; the per-round joins key on it,
      // never all-pairs. Wedge generation + bloom prefilter are fused
      // into the WedgeClosures kernel over rank-sorted adjacency arrays
      // (the clustering_coeff shape — see there): adjacency groups
      // exchange-free off the u-partitioned checkpoint, the kernel
      // enumerates C(d⁺,2) pairs in a JIT'd loop, and only bloom
      // survivors become rows.
      // ONE adjacency pass for BOTH the wedge source (rank-sorted
      // struct array) and the confirm probe array (plain v list): the
      // r10 shape ran two exchange-free groupBys over the checkpoint —
      // same input, same keys, two full agg passes (~8 cpu-s apiece at
      // sf0.1). Checkpointed because two consumers scan it (the wedge
      // explode + the confirm build side); node-sized rows.
      val adjA = oriented.groupBy(col("u"))
        .agg(sort_array(collect_list(struct(col("dv"), col("v")))).as("nbrs"),
          collect_list(col("v")).as("vs"))
        .localCheckpoint(false)
      val wed = adjA
        .select(col("u"), explode(graft.functions.WedgeClosures
          .wedgeClosures(edgeBloom, col("nbrs"))).as("w"))
        .select(col("u"), col("w.a").as("a"), col("w.b").as("b"))
      // exact confirm = membership of b in a's OWN out-neighbor array
      // (the u→a alias off the same cached adjacency; only the wedge
      // stream shuffles). array_contains is a JIT'd linear scan over an
      // orientation-bounded (≈√m) array; bloom false positives die
      // right here, so the rounds never see them.
      val tri0 = wed
        .join(adjA.select(col("u").as("a"), col("vs")).hint("shuffle_hash"),
          Seq("a"))
        .filter(array_contains(col("vs"), col("b")))
        .select(col("u"), col("a"), col("b"))
      // each triangle's 3 edges, kept in ORIENTED form — (u→a) and
      // (u→b) are the apex's out-edges, (a→b) the closing edge already
      // ordered by the wedge filter — so edge keys match the survivor
      // frame with no re-canonicalize step
      def edgesOf(t: DataFrame): DataFrame = t
        .select(col("u"), col("a"), col("b"), explode(array(
          struct(col("u").as("eu"), col("a").as("ev")),
          struct(col("u").as("eu"), col("b").as("ev")),
          struct(col("a").as("eu"), col("b").as("ev")))).as("t"))
        .select(col("u"), col("a"), col("b"),
          col("t.eu").as("eu"), col("t.ev").as("ev"))
      // THE round index: every (triangle, edge) incidence, checkpointed
      // partitioned AND sorted by the edge key. Each round's destroyed
      // detection is then a join that moves only the drop set — the big
      // side streams its sorted partitions with no exchange and no sort
      // (an earlier cut re-exchanged these 1.9M rows by edge key every
      // round, ~1.9s/round at sf0.1; a bloom-probe cut avoided that but
      // paid a per-round filter-build job + a confirm join, ~2s/round
      // in driver-side planning and jobs).
      // UNSORTED: every consumer either hash-aggregates (the support
      // rollup) or hash-probes a tiny drop set (the detection SHJ), so
      // the r10 sort of all 5.7M incidence rows bought nothing
      val triByEdge = CheckpointBridge.partitionedCheckpoint(
        edgesOf(tri0), shufflePartitions(s), Seq("eu", "ev"),
        declareStats = false)
      // round-1 support = an exchange-free run-length over the SAME
      // sorted index; re-keyed (u,v) and kept co-partitioned with it.
      // Zero-triangle edges never appear — they drop in round 1 and,
      // being in no triangle, can never decrement anyone: sup ∈
      // [1, k−3] rows are the complete RELEVANT drop set of a round.
      // `base` is IMMUTABLE: the peel removes so little per round
      // (sf0.1: 62k → 1.7k of 1.2M edges) that rewriting the survivor
      // table was the round cost — the r10 shape re-checkpointed all
      // 1.1M supports AND ran a full count scan every round (~1.5-2s/
      // round). Rounds below instead carry a DROP LEDGER: per-edge
      // cumulative decrements (drop-proportional smalls), a newly-
      // dropped set derived by one exchange-free stream of `base`
      // against the (AQE-broadcast) decrement table, and survivor
      // counts as pure 1-row arithmetic n_r = n_{r-1} − |new drops|.
      // At 100 TB this is the difference between touching O(drops) and
      // rewriting O(edges) per round.
      val base = CheckpointBridge.partitionedCheckpoint(
        triByEdge.groupBy(col("eu").as("u"), col("ev").as("v"))
          .agg(count(lit(1)).as("sup")),
        shufflePartitions(s), Seq("u", "v"),
        declareStats = false)
      // cumulative destroyed-triangle ledger: `triByEdge` stays the
      // FIXED round-1 index (never rewritten), so a drop-set join can
      // re-surface a triangle an EARLIER round already destroyed — the
      // anti-join below keeps each triangle's decrement exactly-once.
      // Per round only TWO frames materialize (`nd`, `touched`) — the
      // r10 shape's four-materialization rounds spent more wall time in
      // driver planning + job scheduling than in the (tiny) data they
      // moved, so everything else below is a cheap re-filter of one of
      // those small cached frames.
      var destroyedSoFar: Option[DataFrame] = None
      // `touched` of the previous round: (u, v, sup, dec) for every
      // edge decremented so far, dec cumulative. An edge is newly
      // dropped in round r iff sup − dec_{r−1} ≥ k−2 and sup − dec_r <
      // k−2 (sup-0 edges propagate harmlessly: all their triangles are
      // already destroyed, so they can hit nothing).
      var touchedPrev: Option[DataFrame] = None
      def dropsOf(touched: DataFrame, prev: Option[DataFrame]): DataFrame = {
        val withPrev = prev.fold(touched.withColumn("d0", lit(0L)))(p =>
          touched.join(p.select(col("u"), col("v"), col("dec").as("d0")),
            Seq("u", "v"), "left"))
        withPrev
          .filter(col("sup") - coalesce(col("d0"), lit(0L)) >= TrussK - 2 &&
            col("sup") - col("dec") < TrussK - 2)
          .select(col("u"), col("v"))
      }
      // round-1 drop set and survivor count: plain filters over the
      // base checkpoint (no extra materialization — base is cached)
      var lastDrops = base.filter(col("sup") < TrussK - 2)
        .select(col("u"), col("v"))
      // LAZY: base is already a cached checkpoint, so each of the three
      // output rows re-running this 1-row aggregate is a cheap cache
      // scan inside the ONE final action — the r11 localCheckpoint here
      // paid a scheduler round-trip to save three sub-second scans
      val n1 = base.filter(col("sup") >= TrussK - 2)
        .agg(count(lit(1)).as("n_edges"))
      // survivor counts are PURE ARITHMETIC off the drop counts:
      // n_r = n_1 − Σ_{j≤r} |newDrops_j| — no full-table scan, no
      // survivor-table rewrite, ever
      var dropCounts: Seq[DataFrame] = Nil
      val rounds = (1 to TrussRounds).map { r =>
        if (r > 1) {
          // triangles hit by the previous round's drops: a shuffle-hash
          // semi probe — the index streams exchange-free off its
          // declared partitioning, only the tiny drop set exchanges and
          // hash-builds, and NOBODY sorts (the r10 SMJ spelling needed
          // the whole 5.7M-row index sorted at build time)
          val hit = triByEdge
            .join(lastDrops.select(col("u").as("eu"), col("v").as("ev"))
              .hint("shuffle_hash"), Seq("eu", "ev"), "left_semi")
            .select("u", "a", "b").dropDuplicates("u", "a", "b")
          val nd = destroyedSoFar.fold(hit)(d =>
              hit.join(d, Seq("u", "a", "b"), "left_anti"))
            .localCheckpoint(false) // read 2x: decrements + next ledger
          val dec = edgesOf(nd)
            .groupBy(col("eu").as("u"), col("ev").as("v"))
            .agg(count(lit(1)).as("dec"))
          // cumulative decrements live on `touched` rows (dec keys are
          // always base edges, so the inner join loses nothing); the
          // drop-proportional dec side is AQE-broadcast at runtime —
          // never forced, the dec-join contract from r9 — and the base
          // side streams exchange-free off its declared partitioning
          val decCum = touchedPrev.fold(dec)(p =>
            p.select(col("u"), col("v"), col("dec").as("d0"))
              .join(dec, Seq("u", "v"), "full_outer")
              .select(col("u"), col("v"),
                (coalesce(col("d0"), lit(0L)) +
                  coalesce(col("dec"), lit(0L))).as("dec")))
          val touched = base.join(decCum.hint("shuffle_hash"), Seq("u", "v"))
            .localCheckpoint(false) // read 3x+: drops ×2 + next round's d0
          lastDrops = dropsOf(touched, touchedPrev)
          // LAZY 1-row aggregate: `touched` is a cached drop-
          // proportional checkpoint, so later output rows re-deriving
          // this count is a trivial cache filter inside the one final
          // action — eager-checkpointing it (the r11 shape) cost one
          // scheduler round-trip per round for nothing
          dropCounts = dropCounts :+ lastDrops
            .agg(count(lit(1)).as(s"nd$r"))
          touchedPrev = Some(touched)
          destroyedSoFar = Some(destroyedSoFar.fold(nd)(_ union nd))
        }
        dropCounts.foldLeft(n1)((acc, dc) => acc.crossJoin(dc))
          .select(lit(r.toLong).as("round"),
            (2 to r).foldLeft(col("n_edges"))((c, j) =>
              c - col(s"nd$j")).as("n_edges"))
      }
      rounds.reduce(_ unionAll _).orderBy("round")
    }),

    // L152 — frequent 3-itemsets (the Apriori/Eclat step after
    // basket_affinity's pairs): top-20 part triples by co-purchase
    // support — the market-basket rule-mining primitive ("these three
    // parts ship together") one level deeper than pairwise lift. Scale
    // shape: both joins are keyed on the ORDER (basket) key, and TPC-H
    // baskets are bounded (≤7 items ⇒ ≤35 triples per order), so the
    // explode is linear in fact size; the triple rollup is partial-agg
    // friendly and the top-20 is a TakeOrdered, not a window.
    "frequent_triples" -> ((s, dir) => {
      val b = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
      b.as("a")
        .join(b.as("c"),
          col("a.ok") === col("c.ok") && col("a.pk") < col("c.pk"))
        .join(b.as("d"),
          col("a.ok") === col("d.ok") && col("c.pk") < col("d.pk"))
        .groupBy(col("a.pk").as("p1"), col("c.pk").as("p2"),
          col("d.pk").as("p3"))
        .agg(count(lit(1)).as("support"))
        .orderBy(desc("support"), col("p1"), col("p2"), col("p3"))
        .limit(20)
    }),

    // L153 — Theil inequality index with between/within decomposition
    // (Theil 1967): per nation, T_g = (1/n_g)Σ(x/μ_g)ln(x/μ_g) over
    // customer lifetime spend, the nation's spend share s_g, and the
    // between-nation term s_g·ln(μ_g/μ) — the additively-decomposable
    // inequality measure (Gini is not) that answers "is spend
    // inequality WITHIN markets or BETWEEN them". One fact rollup to
    // customer spend, nation-keyed joins; per-customer entropy terms
    // 8dp-round into decimal sums (ln under the exp/ln floor-round
    // house rule).
    "theil_index" -> ((s, dir) => {
      val cust = t(s, dir, "orders")
        .groupBy(col("o_custkey").as("ck"))
        .agg(decSum(col("o_totalprice"), 4).as("x"))
      val nat = t(s, dir, "customer")
        .select(col("c_custkey").as("ck"), col("c_nationkey").as("nk"))
      val cx = cust.join(nat, "ck")
        .localCheckpoint(false) // reused: group moments + entropy terms
      val g = cx.groupBy("nk")
        .agg(count(lit(1)).as("n_g"), decSum(col("x"), 4).as("sx"))
        .withColumn("mu_g", col("sx") / col("n_g"))
        .localCheckpoint(false) // nation-sized; reused: totals + joins
      val tot = broadcast(g.agg(
        sum("n_g").as("n_tot"),
        sum(col("sx").cast(DecimalType(18, 4))).cast("double").as("s_tot")))
      val tw = cx.join(g.select("nk", "mu_g"), "nk")
        .select(col("nk"),
          r8(col("x") / col("mu_g") * log(col("x") / col("mu_g")))
            .cast(DecimalType(18, 8)).as("term"))
        .groupBy("nk")
        .agg(sum("term").cast("double").as("st"))
      g.join(tw, "nk").crossJoin(tot)
        .select(col("nk").as("nationkey"), col("n_g").as("n_cust"),
          r2(col("mu_g")).as("mean_spend"),
          r6(col("sx") / col("s_tot")).as("spend_share"),
          r6(col("st") / col("n_g")).as("theil_within"),
          r6(col("sx") / col("s_tot") *
            log(col("mu_g") / (col("s_tot") / col("n_tot"))))
            .as("between_term"))
        .orderBy("nationkey")
    }),

    // L156 — log-log price elasticity per brand: OLS slope of
    // ln(quantity) on ln(net unit price) across the brand's parts —
    // the constant-elasticity demand estimate ("−1.3: a 1% price cut
    // buys 1.3% more volume") every pricing review starts from (and
    // corr_pricing's causal-flavored sibling: correlation says THAT
    // they move together, the elasticity says HOW MUCH). One fact
    // rollup to part-level (q, p), ln terms 6dp-round into decimal
    // brand moments, closed-form slope/intercept.
    "price_elasticity" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val p = t(s, dir, "part").select("p_partkey", "p_brand")
      val parts = li.join(p, col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"), col("l_partkey"))
        .agg(sum("l_quantity").as("q"),
          decSum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4)
            .as("r"))
        .select(col("p_brand"), r6(log(col("q"))).as("lq"),
          r6(log(col("r") / col("q"))).as("lp"))
      parts.groupBy("p_brand")
        .agg(count(lit(1)).as("n_parts"),
          decSum(col("lq"), 6).as("sq"), decSum(col("lp"), 6).as("sp"),
          decSum(r6(col("lq") * col("lp")), 6).as("sqp"),
          decSum(r6(col("lp") * col("lp")), 6).as("spp"))
        .select(col("p_brand"), col("n_parts"),
          r6((col("sqp") - col("sq") * col("sp") / col("n_parts")) /
            (col("spp") - col("sp") * col("sp") / col("n_parts")))
            .as("elasticity"),
          r6(col("sq") / col("n_parts")).as("mean_ln_qty"),
          r6(col("sp") / col("n_parts")).as("mean_ln_price"))
        .orderBy("p_brand")
    }),

    // L155 — power-law tail exponent by the Hill/MLE estimator (Hill
    // 1975; Clauset-Shirer-Newman's continuous form): over customers
    // whose lifetime spend exceeds x_min (= the mean — a deterministic,
    // rank-free cutoff), α̂ = 1 + n/Σln(x/x_min) — "how heavy is the
    // whale tail", the one-number companion to pareto_frontier and
    // zipf_slope for spend concentration. One fact rollup + one
    // broadcast cutoff + one conditional reduce; ln terms 8dp-round
    // into decimal sums (house exp/ln rule).
    "powerlaw_alpha" -> ((s, dir) => {
      val cust = t(s, dir, "orders")
        .groupBy(col("o_custkey").as("ck"))
        .agg(decSum(col("o_totalprice"), 4).as("x"))
        .localCheckpoint(false) // reused: the cutoff + the tail reduce
      val xm = broadcast(cust.agg(
        (decSum(col("x"), 4) / count(lit(1))).as("x_min")))
      cust.crossJoin(xm)
        .filter(col("x") > col("x_min"))
        .groupBy("x_min")
        .agg(count(lit(1)).as("n_tail"),
          sum(r8(log(col("x") / col("x_min"))).cast(DecimalType(18, 8)))
            .cast("double").as("sl"))
        .select(col("n_tail"), r2(col("x_min")).as("x_min"),
          r6(lit(1.0) + col("n_tail") / col("sl")).as("alpha"))
    }),

    // L154 — Atkinson inequality index at ε = ½ per nation: A = 1 −
    // ((1/n)Σ√x)²/μ over customer lifetime spend — the welfare-
    // theoretic inequality measure whose ε names HOW MUCH the bottom
    // matters (ε=½ keeps every operation a square root — IEEE-exact
    // cross-engine, unlike a general pow). Complements theil_index
    // (same spend frame): Atkinson answers "what fraction of total
    // spend could be sacrificed for perfect equality at equal
    // welfare". Fact rollup to customers, nation-keyed rollup; √x
    // terms 6dp-round into decimal sums.
    "atkinson_index" -> ((s, dir) => {
      val cust = t(s, dir, "orders")
        .groupBy(col("o_custkey").as("ck"))
        .agg(decSum(col("o_totalprice"), 4).as("x"))
      val nat = t(s, dir, "customer")
        .select(col("c_custkey").as("ck"), col("c_nationkey").as("nk"))
      cust.join(nat, "ck")
        .groupBy("nk")
        .agg(count(lit(1)).as("n_cust"),
          decSum(col("x"), 4).as("sx"),
          sum(r6(sqrt(col("x"))).cast(DecimalType(18, 6))).cast("double")
            .as("ssq"))
        .select(col("nk").as("nationkey"), col("n_cust"),
          r2(col("sx") / col("n_cust")).as("mean_spend"),
          r6(lit(1.0) - (col("ssq") / col("n_cust")) *
            (col("ssq") / col("n_cust")) / (col("sx") / col("n_cust")))
            .as("atkinson_half"))
        .orderBy("nationkey")
    }),

    // L149 — Friedman rank test (Friedman 1937): do the five order
    // priorities differ in mean ticket within calendar-month blocks —
    // the repeated-measures complement of kruskal_wallis (KW pools all
    // rows; Friedman ranks WITHIN each month, so a month-level volume
    // trend can't masquerade as a priority effect). Blocks with all 5
    // treatments rank their 5 cell means (average ranks on ties) in a
    // block-partitioned 5-row window; Q is closed algebra on the 5
    // treatment rank sums (exact half-integer arithmetic, decimal-
    // routed). χ²(4) 95% critical value for the reject flag.
    "friedman_test" -> ((s, dir) => {
      val k = 5
      val m = t(s, dir, "orders")
        .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("blk"),
          col("o_orderpriority").as("trt"))
        .agg((decSum(col("o_totalprice"), 4) / count(lit(1))).as("v"))
        .localCheckpoint(false) // reused: completeness filter + ranking
      val full = m.groupBy("blk").agg(count(lit(1)).as("kk"))
        .filter(col("kk") === k).select("blk")
      val wR = Window.partitionBy("blk").orderBy("v")
      val wE = Window.partitionBy("blk", "v")
      val rj = m.join(full, "blk")
        .withColumn("mr", rank().over(wR).cast("long"))
        .withColumn("ce", count(lit(1)).over(wE))
        .withColumn("ar", col("mr") + (col("ce") - 1L).cast("double") / 2.0)
        .groupBy("trt")
        .agg(sum(col("ar").cast(DecimalType(18, 1))).cast("double").as("rsum"),
          count(lit(1)).as("nb"))
      val nb = broadcast(rj.agg(max("nb").as("n")))
      rj.crossJoin(nb)
        .groupBy("n")
        .agg(sum((col("rsum") * col("rsum")).cast(DecimalType(38, 2)))
          .cast("double").as("sr2"))
        .select(col("n").as("n_blocks"), lit(k.toLong).as("k_treatments"),
          r6(lit(12.0) / (col("n").cast("double") * k * (k + 1)) * col("sr2") -
            lit(3.0) * col("n") * (k + 1)).as("q_stat"))
        .withColumn("reject_95", col("q_stat") > 9.487729)
    }),

    // L150 — l-diversity profile (Machanavalli et al. 2007) of the
    // customer quasi-identifier classes k_anonymity sizes: within each
    // (nation, segment) class, how many DISTINCT sensitive values
    // (account-balance band) appear — a class can be k-anonymous yet
    // leak the sensitive attribute outright if all members share one
    // band. Output = the class histogram by distinct-band count l
    // (1 ≤ l ≤ 3), the release-gate readout next to k_anonymity's
    // size sweep. One grouped pass at QI-class cardinality (bounded).
    "l_diversity" -> ((s, dir) => {
      val sens = when(col("c_acctbal") < 0.0, "debt")
        .when(col("c_acctbal") < 5000.0, "low").otherwise("high")
      val classes = t(s, dir, "customer")
        .groupBy(col("c_nationkey"), col("c_mktsegment"))
        .agg(count(lit(1)).as("class_size"),
          countDistinct(sens).as("l_c"))
        .localCheckpoint(false) // reused: totals + the histogram
      val tot = broadcast(classes.agg(sum("class_size").as("n_rows")))
      classes.groupBy("l_c")
        .agg(count(lit(1)).as("n_classes"), sum("class_size").as("n_rows_l"))
        .crossJoin(tot)
        .select(col("l_c").as("l_distinct"), col("n_classes"),
          col("n_rows_l").as("n_rows"),
          r6(col("n_rows_l").cast("double") / col("n_rows")).as("row_share"))
        .orderBy("l_distinct")
    }),

    // L143 — link-prediction score suite: common-neighbors, Jaccard,
    // and resource-allocation (Zhou/Lü/Zhang 2009) for the same
    // probe-bounded candidate set adamic_adar ranks — the standard
    // benchmark panel (CN favors hubs, Jaccard normalizes by union
    // degree, RA damps hub intermediaries harder than AA's 1/ln d) a
    // link-prediction evaluation compares in one table. Same scale
    // shape as adamic_adar: per-probe wedge fan-out off the z-
    // partitioned neighbor checkpoint, RA terms as exact scaled longs
    // t8 = round(1e8/d), existing edges anti-joined out, per-probe
    // top-10 by (CN desc, RA desc).
    "link_pred_suite" -> ((s, dir) => {
      val e = coPurchaseEdges(s, dir, "src", canonical = true)
      val nbr0 = e.select(col("src").as("z"), col("dst").as("n"))
        .unionAll(e.select(col("dst").as("z"), col("src").as("n")))
      val nbr = org.apache.spark.sql.graftbridge.CheckpointBridge
        .partitionedCheckpoint(nbr0, shufflePartitions(s), Seq("z"), Seq("z"),
          declareStats = false)
      val deg = nbr.groupBy("z").agg(count(lit(1)).as("d"))
        .localCheckpoint(false) // reused: RA terms + both endpoint degrees
      val term = deg.select(col("z"),
        floor(lit(1e8) / col("d") + lit(0.5)).as("t8"))
      val probes = nbr.select(col("z").as("p")).distinct()
        .orderBy("p").limit(AaProbes)
      val cand = broadcast(probes)
        .join(nbr, col("p") === col("z"))
        .select(col("p"), col("n").as("w"))
      cand.join(nbr.select(col("z").as("w"), col("n").as("b")), "w")
        .filter(col("b") =!= col("p"))
        .join(term.select(col("z").as("w"), col("t8")).hint("shuffle_hash"), "w")
        .groupBy("p", "b")
        .agg(count(lit(1)).as("n_common"), sum("t8").as("s8"))
        .join(e.select(col("src").as("x"), col("dst").as("y")),
          least(col("p"), col("b")) === col("x") &&
            greatest(col("p"), col("b")) === col("y"), "left_anti")
        .join(deg.select(col("z").as("p"), col("d").as("dp")), "p")
        .join(deg.select(col("z").as("b"), col("d").as("db")), "b")
        .withColumn("jaccard", r6(col("n_common").cast("double") /
          (col("dp") + col("db") - col("n_common"))))
        .withColumn("rank", row_number().over(
          Window.partitionBy("p")
            .orderBy(desc("n_common"), desc("s8"), col("b"))).cast("long"))
        .filter(col("rank") <= 10)
        .select(col("p").as("probe"), col("rank"), col("b").as("candidate"),
          col("n_common"), col("jaccard"),
          (col("s8").cast("double") / lit(1e8)).as("ra_score"))
        .orderBy("probe", "rank")
    }),

    // L144 — maximum drawdown of the cumulative daily revenue curve:
    // DD_t = max_{s≤t} C_s − C_t, reported at its deepest trough — the
    // risk-report headline ("worst peak-to-valley slide") applied to
    // the revenue run-rate, and the canonical prefix-max/prefix-sum
    // composition every monitoring stack needs. Day-cardinality rollup
    // first (decimal-exact revenue), then two calendar-sized ordered
    // windows (prefix decimal sum, prefix max) and a deterministic
    // (drawdown desc, day) head.
    "max_drawdown" -> ((s, dir) => {
      val wc = Window.orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "lineitem")
        .groupBy(col("l_shipdate").cast("date").as("day"))
        .agg(decSum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4)
          .as("rev"))
        .withColumn("cum",
          sum(col("rev").cast(DecimalType(18, 4))).over(wc).cast("double"))
        .withColumn("peak", max("cum").over(wc))
        .select(col("day").as("trough_day"),
          r2(col("peak") - col("cum")).as("drawdown"),
          r2(col("peak")).as("peak_cum"), r2(col("cum")).as("cum_at_trough"))
        .orderBy(desc("drawdown"), col("trough_day"))
        .limit(1)
    }),

    // L145 — Herfindahl–Hirschman concentration of revenue by brand:
    // HHI = Σ share² (1/n = perfect competition … 1 = monopoly) plus
    // the n-normalized form — the antitrust-grade concentration number
    // next to gini_concentration's inequality curve (HHI weights the
    // HEAD quadratically; Gini integrates the whole curve). One
    // fact-side join+rollup to brand cardinality (bounded), squared
    // shares 8dp-rounded into a decimal reduce.
    "hhi_concentration" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val p = t(s, dir, "part").select("p_partkey", "p_brand")
      val b = li.join(p, li("l_partkey") === p("p_partkey"))
        .groupBy("p_brand")
        .agg(decSum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4)
          .as("rev"))
        .localCheckpoint(false) // reused: the total + the share terms
      val tot = broadcast(b.agg(
        sum(col("rev").cast(DecimalType(18, 4))).cast("double").as("tot")))
      val share = col("rev") / col("tot")
      b.crossJoin(tot)
        .groupBy()
        .agg(count(lit(1)).as("n_brands"),
          sum(r8(share * share).cast(DecimalType(18, 8))).cast("double")
            .as("hhi_raw"))
        .select(col("n_brands"), r6(col("hhi_raw")).as("hhi"),
          r6((col("hhi_raw") - lit(1.0) / col("n_brands")) /
            (lit(1.0) - lit(1.0) / col("n_brands"))).as("hhi_normalized"))
    }),

    // L146 — ABC inventory classification (Pareto / 80-15-5): parts
    // ranked by revenue, class A = the head up to 80% cumulative share,
    // B to 95%, C the tail — the working-capital triage every supply
    // chain runs, and at 100 TB the classic "global running sum over a
    // data-sized domain" stressor: the cumulative share comes from the
    // two-phase exclusivePrefix (bucket carry + bucket-partitioned fine
    // window), never a single-task global window. Per-part revenue in
    // exact cent-longs so every prefix sum is integer-exact.
    "abc_analysis" -> ((s, dir) => {
      val pr = t(s, dir, "lineitem")
        .groupBy(col("l_partkey").as("pk"))
        .agg(sum(floor(col("l_extendedprice") * (lit(1) - col("l_discount")) *
          lit(1e2) + lit(0.5)).cast("long")).as("rev2"))
        .localCheckpoint(false) // reused: the total + the ranked scan
      val tot = broadcast(pr.agg(sum("rev2").as("tot")))
      val cum = exclusivePrefix(
        pr.select(col("pk"), col("rev2"), (-col("rev2")).as("neg")),
        "neg", Seq("rev2"), Seq("pk"))
      cum.crossJoin(tot)
        .withColumn("cshare",
          r6((col("cum_rev2") + col("rev2")).cast("double") / col("tot")))
        .withColumn("abc_class",
          when(col("cshare") <= 0.8, "A")
            .when(col("cshare") <= 0.95, "B").otherwise("C"))
        .groupBy("abc_class")
        .agg(count(lit(1)).as("n_parts"),
          (sum("rev2").cast("double") / lit(1e2)).as("class_revenue"),
          max("cshare").as("cum_share_max"))
        .orderBy("abc_class")
    }),

    // L147 — historical value-at-risk of the day-over-day revenue swing:
    // VaR_q = −(the ⌈q·n⌉-th smallest daily delta) (the order-statistic
    // convention — no distributional fit), plus the 95% expected
    // shortfall (mean of the tail beyond VaR) — "how bad is a bad day",
    // the risk summary a close pipeline reports next to the KPI trend.
    // Day-cardinality deltas via one calendar lag; the quantile rank is
    // a calendar-sized ordered window; the tail mean is decimal-exact.
    "var_historical" -> ((s, dir) => {
      val wd = Window.orderBy("day")
      val d = t(s, dir, "lineitem")
        .groupBy(col("l_shipdate").cast("date").as("day"))
        .agg(decSum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4)
          .as("rev"))
        .withColumn("delta", col("rev") - lag("rev", 1).over(wd))
        .filter(col("delta").isNotNull)
        .select(col("day"), col("delta"))
        .localCheckpoint(false) // reused: the count + the ranked scan
      val n = broadcast(d.agg(count(lit(1)).as("n")))
      d.withColumn("rn",
          row_number().over(Window.orderBy("delta", "day")).cast("long"))
        .crossJoin(n)
        .withColumn("k95", ceil(lit(0.05) * col("n")).cast("long"))
        .withColumn("k99", ceil(lit(0.01) * col("n")).cast("long"))
        .groupBy()
        .agg(max("n").as("n_deltas"),
          max(when(col("rn") === col("k95"), -col("delta"))).as("v95"),
          max(when(col("rn") === col("k99"), -col("delta"))).as("v99"),
          (sum(when(col("rn") <= col("k95"),
            (-col("delta")).cast(DecimalType(18, 4)))).cast("double") /
            max("k95")).as("es95raw"))
        .select(col("n_deltas"), r2(col("v95")).as("var_95"),
          r2(col("v99")).as("var_99"), r2(col("es95raw")).as("es_95"))
    }),

    // L148 — price/volume/mix variance decomposition between the first
    // and last shipping month, by brand: Δrevenue = volume effect
    // (q1−q0)·p0 + price effect (p1−p0)·q1 + mix residual — the FP&A
    // close-commentary bridge ("revenue fell 2%: volume −5%, price
    // +3%") behind every monthly variance walk. Brands new in the
    // period book to volume by convention. ONE conditional-aggregate
    // fact pass to brand cardinality; quantities sum exactly in double,
    // revenue decimal-routed; effects are brand-level closed algebra.
    "price_volume_mix" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .withColumn("m", date_format(col("l_shipdate"), "yyyy-MM"))
      val bounds = broadcast(li.agg(min("m").as("m0"), max("m").as("m1")))
      val p = t(s, dir, "part").select("p_partkey", "p_brand")
      val amount = col("l_extendedprice") * (lit(1) - col("l_discount"))
      val agg = li.crossJoin(bounds)
        .filter(col("m") === col("m0") || col("m") === col("m1"))
        .join(p, col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand")
        .agg(
          sum(when(col("m") === col("m0"), col("l_quantity"))
            .otherwise(lit(0.0))).as("q0"),
          sum(when(col("m") === col("m1"), col("l_quantity"))
            .otherwise(lit(0.0))).as("q1"),
          decSum(when(col("m") === col("m0"), amount).otherwise(lit(0.0)), 4)
            .as("r0"),
          decSum(when(col("m") === col("m1"), amount).otherwise(lit(0.0)), 4)
            .as("r1"))
      val volRaw = when(col("q0") > 0.0,
        (col("q1") - col("q0")) * (col("r0") / col("q0")))
        .otherwise(col("r1"))
      val priceRaw = when(col("q0") > 0.0 && col("q1") > 0.0,
        (col("r1") / col("q1") - col("r0") / col("q0")) * col("q1"))
        .otherwise(lit(0.0))
      agg
        .withColumn("vol_raw", volRaw)
        .withColumn("price_raw", priceRaw)
        .select(col("p_brand"), col("q0"), col("q1"),
          r2(col("r0")).as("r0"), r2(col("r1")).as("r1"),
          r2(col("vol_raw")).as("volume_effect"),
          r2(col("price_raw")).as("price_effect"),
          r2(col("r1") - col("r0") - col("vol_raw") - col("price_raw"))
            .as("mix_effect"))
        .orderBy("p_brand")
    })
  )

  val oracleSql: Map[String, String] = Map(

    "pagerank" -> sqlPagerank,

    "label_propagation" -> sqlLpa,

    "hits_scores" -> sqlHits,

    "kcore_peel" -> sqlKcore,

    "wl_refinement" -> sqlWl,

    "modularity" -> sqlModularity,

    "conductance" -> sqlConductance,

    "bfs_hops" -> sqlBfs,

    "hurst_exponent" -> {
      val perW = HurstWindows.map { w =>
        s"""bs$w AS (SELECT i // $w AS b, COUNT(*) AS cnt,
           |         CAST(SUM(CAST(rev AS DECIMAL(18,2))) AS DOUBLE) / $w AS m,
           |         CAST(SUM(CAST(rev * rev AS DECIMAL(38,4))) AS DOUBLE) AS s2sum
           |       FROM idx GROUP BY 1),
           |cd$w AS (SELECT x.b,
           |          SUM(x.rev - s.m) OVER (PARTITION BY x.b ORDER BY x.i) AS cd
           |        FROM (SELECT i // $w AS b, i, rev FROM idx) x
           |        JOIN bs$w s USING (b) WHERE s.cnt = $w),
           |rs$w AS (SELECT c.b,
           |          (MAX(c.cd) - MIN(c.cd)) / sqrt(s.s2sum / $w - s.m * s.m) AS rs
           |        FROM cd$w c JOIN bs$w s USING (b)
           |        WHERE s.s2sum / $w - s.m * s.m > 0
           |        GROUP BY c.b, s.s2sum, s.m),
           |a$w AS (SELECT CAST($w AS BIGINT) AS w,
           |         CAST(COUNT(*) AS BIGINT) AS n_blocks,
           |         CAST(SUM(CAST(floor(rs * 1e6 + 0.5) / 1e6 AS DECIMAL(18,6)))
           |           AS DOUBLE) / COUNT(*) AS rs_avg
           |       FROM rs$w)""".stripMargin
      }.mkString(",\n")
      val union = HurstWindows.map(w => s"SELECT * FROM a$w").mkString("\nUNION ALL\n")
      s"""WITH d0 AS (SELECT CAST(o_orderdate AS DATE) AS day,
         |        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
         |      FROM orders GROUP BY 1),
         |idx AS MATERIALIZED (
         |  SELECT row_number() OVER (ORDER BY day) - 1 AS i, rev FROM d0),
         |$perW,
         |p AS MATERIALIZED (SELECT w, n_blocks, rs_avg,
         |       ln(CAST(w AS DOUBLE)) AS x, ln(rs_avg) AS y FROM ($union)),
         |sl AS (SELECT CAST(COUNT(*) AS BIGINT) AS k,
         |        CAST(SUM(CAST(floor(x * 1e6 + 0.5) / 1e6 AS DECIMAL(18,6))) AS DOUBLE) AS sx,
         |        CAST(SUM(CAST(floor(y * 1e6 + 0.5) / 1e6 AS DECIMAL(18,6))) AS DOUBLE) AS sy,
         |        CAST(SUM(CAST(floor(x * x * 1e6 + 0.5) / 1e6 AS DECIMAL(18,6))) AS DOUBLE) AS sxx,
         |        CAST(SUM(CAST(floor(x * y * 1e6 + 0.5) / 1e6 AS DECIMAL(18,6))) AS DOUBLE) AS sxy
         |       FROM p)
         |SELECT p.w, p.n_blocks, floor(p.rs_avg * 1e6 + 0.5) / 1e6 AS rs_avg,
         |       floor((sl.k * sl.sxy - sl.sx * sl.sy)
         |             / (sl.k * sl.sxx - sl.sx * sl.sx) * 1e6 + 0.5) / 1e6 AS hurst
         |FROM p, sl ORDER BY p.w""".stripMargin
    },

    "grouped_ols" ->
      """WITH g AS (
        |  SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n,
        |         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
        |         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
        |         CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(38,4))) AS DOUBLE) AS sxx,
        |         CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(38,4))) AS DOUBLE) AS sxy,
        |         CAST(SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(38,4))) AS DOUBLE) AS syy
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  GROUP BY p_brand)
        |SELECT p_brand, n,
        |       floor((n*sxy - sx*sy) / (n*sxx - sx*sx) * 1e6 + 0.5) / 1e6 AS slope,
        |       floor((sy - (n*sxy - sx*sy) / (n*sxx - sx*sx) * sx) / n * 1e6 + 0.5) / 1e6 AS intercept,
        |       floor((n*sxy - sx*sy) * (n*sxy - sx*sy)
        |             / ((n*sxx - sx*sx) * (n*syy - sy*sy)) * 1e6 + 0.5) / 1e6 AS r2
        |FROM g ORDER BY p_brand""".stripMargin,

    "poisson_bootstrap_ci" -> {
      val b = BootstrapReplicates
      s"""WITH r AS (SELECT o_orderkey, o_totalprice,
         |             unnest(generate_series(0, ${b - 1})) AS rep FROM orders),
         |wu AS (SELECT o_totalprice, rep,
         |         ((((o_orderkey % 100000007) * 2654435761 + rep * 40503)
         |           % 1000000) + 0.5) / 1e6 AS u
         |       FROM r),
         |ww AS (SELECT rep, o_totalprice,
         |         CASE WHEN u < 0.367879441e0 THEN 0 WHEN u < 0.735758882e0 THEN 1
         |              WHEN u < 0.919698603e0 THEN 2 WHEN u < 0.981011843e0 THEN 3
         |              WHEN u < 0.996340153e0 THEN 4 WHEN u < 0.999405815e0 THEN 5
         |              ELSE 6 END AS w
         |       FROM wu),
         |m AS (SELECT rep,
         |        CAST(SUM(CAST(w * o_totalprice AS DECIMAL(28,2))) AS DOUBLE)
         |          / CAST(SUM(w) AS DOUBLE) AS m
         |      FROM ww GROUP BY rep)
         |SELECT CAST(COUNT(*) AS BIGINT) AS n_replicates,
         |       floor(quantile_cont(m, 0.5) * 1e6 + 0.5) / 1e6 AS boot_median,
         |       floor(quantile_cont(m, 0.025) * 1e6 + 0.5) / 1e6 AS lo_95,
         |       floor(quantile_cont(m, 0.975) * 1e6 + 0.5) / 1e6 AS hi_95
         |FROM m""".stripMargin
    },

    "sax_symbols" ->
      s"""WITH m AS MATERIALIZED (
        |  SELECT strftime(o_orderdate, '%Y-%m') AS month,
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
        |  FROM orders GROUP BY 1),
        |r AS (SELECT x.month, x.rev,
        |        (SELECT COUNT(*) FROM m y WHERE y.month < x.month) AS i FROM m x),
        |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |         CAST(SUM(CAST(rev AS DECIMAL(18,2))) AS DOUBLE) AS s1,
        |         CAST(SUM(CAST(rev * rev AS DECIMAL(38,4))) AS DOUBLE) AS s2
        |       FROM m),
        |z AS (SELECT (i * $SaxSegments) // n AS segment,
        |        floor((rev - s1 / n)
        |              / sqrt(s2 / n - (s1 / n) * (s1 / n)) * 1e6 + 0.5) / 1e6 AS z
        |      FROM r, st),
        |p AS (SELECT segment, CAST(COUNT(*) AS BIGINT) AS n_months,
        |        CAST(SUM(CAST(z AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS paa
        |      FROM z GROUP BY segment)
        |SELECT segment, n_months, floor(paa * 1e6 + 0.5) / 1e6 AS paa,
        |       CASE WHEN paa < -0.6745e0 THEN 'a' WHEN paa < 0 THEN 'b'
        |            WHEN paa < 0.6745e0 THEN 'c' ELSE 'd' END AS symbol
        |FROM p ORDER BY segment""".stripMargin,

    "dp_histogram" ->
      s"""WITH c AS (SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS cnt
        |           FROM customer GROUP BY 1),
        |n AS (SELECT c_nationkey, cnt,
        |        ((((c_nationkey % 100000007) * 2654435761) % 1000000) + 0.5) / 1e6
        |          - 0.5 AS u
        |      FROM c)
        |SELECT c_nationkey,
        |       greatest(0, CAST(floor(cnt +
        |         (CASE WHEN u < 0 THEN ln(1.0e0 - 2.0e0 * abs(u))
        |               ELSE -ln(1.0e0 - 2.0e0 * abs(u)) END) / ${DpEpsilon}e0
        |         + 0.5) AS BIGINT)) AS noisy_count
        |FROM n ORDER BY c_nationkey""".stripMargin,

    "kendall_tau" ->
      """WITH m AS (SELECT strftime(o_orderdate, '%Y-%m') AS month,
        |             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev,
        |             CAST(COUNT(*) AS BIGINT) AS cnt
        |           FROM orders GROUP BY 1),
        |p AS (SELECT a.rev AS ra, b.rev AS rb, a.cnt AS ca, b.cnt AS cb
        |      FROM m a JOIN m b ON a.month < b.month),
        |agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |          CAST(SUM(CASE WHEN (ra - rb) * (ca - cb) > 0 THEN 1 ELSE 0 END) AS BIGINT) AS concordant,
        |          CAST(SUM(CASE WHEN (ra - rb) * (ca - cb) < 0 THEN 1 ELSE 0 END) AS BIGINT) AS discordant,
        |          CAST(SUM(CASE WHEN ra = rb THEN 1 ELSE 0 END) AS BIGINT) AS tie_x,
        |          CAST(SUM(CASE WHEN ca = cb THEN 1 ELSE 0 END) AS BIGINT) AS tie_y
        |        FROM p)
        |SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM m) AS n_months,
        |       n_pairs, concordant, discordant,
        |       floor((concordant - discordant)
        |             / sqrt(CAST(n_pairs - tie_x AS DOUBLE) * (n_pairs - tie_y))
        |             * 1e6 + 0.5) / 1e6 AS tau_b
        |FROM agg""".stripMargin,

    "fd_discovery" -> {
      val candidates = Seq(
        ("o_orderkey", "o_custkey"), ("o_orderkey", "o_orderstatus"),
        ("o_custkey", "o_orderstatus"), ("o_custkey", "o_orderpriority"),
        ("o_orderstatus", "o_orderpriority"))
      candidates.map { case (det, dep) =>
        s"""SELECT '$det' AS det_col, '$dep' AS dep_col,
           |       CAST(COUNT(*) AS BIGINT) AS n_keys,
           |       CAST(SUM(CASE WHEN ndep > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating_keys,
           |       MAX(ndep) AS max_dep_per_key,
           |       SUM(CASE WHEN ndep > 1 THEN 1 ELSE 0 END) = 0 AS fd_holds
           |FROM (SELECT $det, CAST(COUNT(DISTINCT $dep) AS BIGINT) AS ndep
           |      FROM orders GROUP BY $det)""".stripMargin
      }.mkString("", "\nUNION ALL\n", "\nORDER BY det_col, dep_col")
    },

    "theilsen_trend" ->
      """WITH m AS (
        |  SELECT strftime(o_orderdate, '%Y-%m') AS month,
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
        |  FROM orders GROUP BY 1),
        |i AS (SELECT CAST(substr(month, 1, 4) AS BIGINT) * 12
        |             + CAST(substr(month, 6, 2) AS BIGINT) AS idx, rev FROM m),
        |p AS (SELECT (b.rev - a.rev) / (b.idx - a.idx) AS slope
        |      FROM i a JOIN i b ON a.idx < b.idx)
        |SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM i) AS n_months,
        |       CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |       floor(quantile_cont(slope, 0.5) * 1e6 + 0.5) / 1e6 AS slope_median
        |FROM p""".stripMargin,

    "clustering_coeff" ->
      """WITH b AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |e AS (SELECT DISTINCT a.pk AS src, b2.pk AS dst
        |      FROM b a JOIN b b2 ON a.ok = b2.ok AND a.pk < b2.pk),
        |adj AS (SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e),
        |deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS degree FROM adj GROUP BY src),
        |w AS (SELECT x.src AS v, x.dst AS a, y.dst AS b
        |      FROM adj x JOIN adj y ON x.src = y.src AND x.dst < y.dst),
        |tri AS (SELECT w.v, CAST(COUNT(*) AS BIGINT) AS n_triangles
        |        FROM w JOIN e ON w.a = e.src AND w.b = e.dst GROUP BY w.v)
        |SELECT deg.src AS p_partkey, deg.degree,
        |       COALESCE(tri.n_triangles, 0) AS n_triangles,
        |       floor(COALESCE(tri.n_triangles, 0) * 2e0
        |             / (deg.degree * (deg.degree - 1)) * 1e6 + 0.5) / 1e6 AS coeff
        |FROM deg LEFT JOIN tri ON deg.src = tri.v
        |WHERE deg.degree >= 2
        |ORDER BY p_partkey""".stripMargin,

    "degree_assortativity" ->
      """WITH b AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |e AS (SELECT DISTINCT a.pk AS src, b2.pk AS dst
        |      FROM b a JOIN b b2 ON a.ok = b2.ok AND a.pk < b2.pk),
        |adj AS (SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e),
        |deg AS (SELECT src AS n, CAST(COUNT(*) AS BIGINT) AS d FROM adj GROUP BY 1),
        |ends AS (SELECT du.d AS du, dv.d AS dv
        |         FROM e JOIN deg du ON e.src = du.n JOIN deg dv ON e.dst = dv.n),
        |sym AS (SELECT du AS x, dv AS y FROM ends
        |        UNION ALL SELECT dv AS x, du AS y FROM ends),
        |agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS m,
        |               CAST(SUM(CAST(x AS DECIMAL(38,0))) AS DOUBLE) AS sx,
        |               CAST(SUM(CAST(x * x AS DECIMAL(38,0))) AS DOUBLE) AS sxx,
        |               CAST(SUM(CAST(x * y AS DECIMAL(38,0))) AS DOUBLE) AS sxy
        |        FROM sym)
        |SELECT m AS n_edge_ends,
        |       floor((m * sxy - sx * sx) / (m * sxx - sx * sx) * 1e6 + 0.5) / 1e6
        |         AS assortativity
        |FROM agg""".stripMargin,

    "spearman_rho" ->
      """WITH li AS (SELECT l_quantity AS q, l_extendedprice AS p FROM lineitem),
        |pvq AS (SELECT q, CAST(COUNT(*) AS BIGINT) AS cnt FROM li GROUP BY q),
        |rq AS (SELECT q,
        |         2 * CAST(COALESCE(SUM(cnt) OVER (ORDER BY q
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |           + cnt + 1 AS r2_q
        |       FROM pvq),
        |pvp AS (SELECT p, CAST(COUNT(*) AS BIGINT) AS cnt FROM li GROUP BY p),
        |rp AS (SELECT p,
        |         2 * CAST(COALESCE(SUM(cnt) OVER (ORDER BY p
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |           + cnt + 1 AS r2_p
        |       FROM pvp),
        |j AS (SELECT r2_q, r2_p FROM li JOIN rq USING (q) JOIN rp USING (p)),
        |agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |          CAST(SUM(CAST(r2_q AS DECIMAL(38,0))) AS DOUBLE) AS sx,
        |          CAST(SUM(CAST(r2_p AS DECIMAL(38,0))) AS DOUBLE) AS sy,
        |          CAST(SUM(CAST(r2_q * r2_q AS DECIMAL(38,0))) AS DOUBLE) AS sxx,
        |          CAST(SUM(CAST(r2_p * r2_p AS DECIMAL(38,0))) AS DOUBLE) AS syy,
        |          CAST(SUM(CAST(r2_q * r2_p AS DECIMAL(38,0))) AS DOUBLE) AS sxy
        |        FROM j)
        |SELECT n AS n_rows,
        |       floor((n * sxy - sx * sy)
        |             / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
        |             * 1e6 + 0.5) / 1e6 AS rho
        |FROM agg""".stripMargin,

    "jackknife_mean_ci" ->
      """WITH g AS (SELECT c_nationkey,
        |             SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS s,
        |             CAST(COUNT(*) AS BIGINT) AS n
        |           FROM customer GROUP BY 1),
        |tot AS (SELECT SUM(s) AS ts, CAST(SUM(n) AS BIGINT) AS tn,
        |               CAST(COUNT(*) AS BIGINT) AS ng FROM g),
        |loo AS (SELECT CAST(ts - s AS DOUBLE) / (tn - n) AS m_i, ts, tn, ng
        |        FROM g, tot),
        |mb AS (SELECT CAST(SUM(CAST(floor(m_i * 1e6 + 0.5) / 1e6
        |                 AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS mbar
        |       FROM loo),
        |a AS (SELECT MAX(ng) AS n_groups,
        |        CAST(MAX(ts) AS DOUBLE) / MAX(tn) AS overall_mean,
        |        CAST(MAX(ng) - 1 AS DOUBLE) / MAX(ng) *
        |          CAST(SUM(CAST(floor((m_i - mbar) * (m_i - mbar) * 1e6 + 0.5)
        |            / 1e6 AS DECIMAL(18,6))) AS DOUBLE) AS var_jack
        |      FROM loo, mb)
        |SELECT n_groups,
        |       floor(overall_mean * 1e6 + 0.5) / 1e6 AS overall_mean,
        |       floor(sqrt(var_jack) * 1e6 + 0.5) / 1e6 AS jackknife_se
        |FROM a""".stripMargin,
    "month_window" ->
      """SELECT o_orderkey, o_custkey, o_orderdate, o_totalprice, o_orderstatus
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1995-03-01' AND o_orderdate < TIMESTAMP '1995-04-01'
        |ORDER BY o_orderkey""".stripMargin,

    "month_str_filter" ->
      """SELECT o_orderkey, o_orderdate, o_totalprice
        |FROM orders
        |WHERE strftime(o_orderdate, '%Y-%m') = '1995-03'
        |ORDER BY o_orderkey""".stripMargin,

    "fx_join" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice, l_discount,
        |       l_extendedprice * (1 - l_discount) AS amount_net,
        |       o_orderdate, o_totalprice
        |FROM lineitem LEFT JOIN orders ON l_orderkey = o_orderkey
        |ORDER BY l_orderkey, l_linenumber, l_extendedprice, l_discount""".stripMargin,

    "kpi_pivot" ->
      """SELECT l_linestatus,
        |       SUM(CASE WHEN l_returnflag = 'A' THEN l_quantity ELSE 0 END) AS A,
        |       SUM(CASE WHEN l_returnflag = 'N' THEN l_quantity ELSE 0 END) AS N,
        |       SUM(CASE WHEN l_returnflag = 'R' THEN l_quantity ELSE 0 END) AS R
        |FROM lineitem
        |GROUP BY l_linestatus
        |ORDER BY l_linestatus""".stripMargin,

    "dup_check" ->
      """SELECT l_orderkey, l_suppkey, COUNT(*) AS cnt
        |FROM lineitem
        |GROUP BY l_orderkey, l_suppkey
        |HAVING COUNT(*) > 1
        |ORDER BY l_orderkey, l_suppkey""".stripMargin,

    "anti_join" ->
      """SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
        |FROM orders
        |WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)
        |ORDER BY o_orderkey""".stripMargin,

    "top_k" ->
      """SELECT o_custkey,
        |       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_custkey
        |ORDER BY revenue DESC, o_custkey
        |LIMIT 8""".stripMargin,

    "union_all" ->
      """SELECT * FROM (
        |  SELECT 'lineitem' AS source,
        |         l_orderkey || '-' || l_linenumber AS document_id,
        |         l_extendedprice AS amount
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'orders', CAST(o_orderkey AS VARCHAR), o_totalprice FROM orders
        |)
        |ORDER BY source, document_id, amount""".stripMargin,

    "surrogate_keys" ->
      """SELECT row_number() OVER (ORDER BY c_custkey) AS entity_key, c_custkey, c_name
        |FROM customer
        |ORDER BY entity_key""".stripMargin,

    "dq_summary" ->
      """WITH sev AS (
        |  SELECT l_returnflag,
        |         CASE WHEN l_discount > 0.08 THEN 'ERROR'
        |              WHEN l_tax > 0.05 THEN 'WARN'
        |              ELSE 'OK' END AS severity
        |  FROM lineitem)
        |SELECT l_returnflag,
        |       COUNT(CASE WHEN severity = 'ERROR' THEN 1 END) AS error_count,
        |       COUNT(CASE WHEN severity = 'WARN' THEN 1 END) AS warn_count,
        |       COUNT(CASE WHEN severity <> 'OK' THEN 1 END) AS issue_count,
        |       CASE WHEN COUNT(CASE WHEN severity = 'ERROR' THEN 1 END) > 0
        |            THEN 'FAIL' ELSE 'PASS' END AS status
        |FROM sev
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,

    "grouped_first" ->
      """SELECT c_nationkey, min_by(c_name, c_custkey) AS first_name, MIN(c_acctbal) AS min_bal
        |FROM customer
        |GROUP BY c_nationkey
        |ORDER BY c_nationkey""".stripMargin,

    "grouped_min" ->
      """SELECT strftime(o_orderdate, '%Y-%m') AS month,
        |       MIN(CAST(strftime(o_orderdate, '%Y%m%d') AS INT)) AS month_start_date_key,
        |       COUNT(*) AS n_orders
        |FROM orders
        |GROUP BY 1
        |ORDER BY month""".stripMargin,

    "distinct_dedup" ->
      """SELECT DISTINCT l_returnflag, l_linestatus
        |FROM lineitem
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "top_expense" ->
      """SELECT l_partkey,
        |       CAST(SUM(CAST(ABS(l_extendedprice * (1 - l_discount)) AS DECIMAL(18,4))) AS DOUBLE) AS total_spend
        |FROM lineitem
        |GROUP BY l_partkey
        |ORDER BY total_spend DESC, l_partkey
        |LIMIT 15""".stripMargin,

    "margin_ratio" ->
      """SELECT l_returnflag,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS gross,
        |       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS net,
        |       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE)
        |         / CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) * 100 AS margin_pct
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,

    "month_arith" ->
      """SELECT DISTINCT strftime(o_orderdate, '%Y-%m') AS month,
        |       last_day(o_orderdate) AS month_end,
        |       CAST(date_trunc('month', o_orderdate) + INTERVAL 1 MONTH AS DATE) AS next_month_start
        |FROM orders
        |ORDER BY month""".stripMargin,

    "isin_filter" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt, SUM(l_quantity) AS sum_qty
        |FROM lineitem
        |WHERE l_returnflag IN ('A','R') AND l_linestatus NOT IN ('O')
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "ci_filter" ->
      """SELECT c_custkey, c_name, c_mktsegment
        |FROM customer
        |WHERE lower(c_mktsegment) = 'building' AND contains(lower(c_name), '1')
        |ORDER BY c_custkey""".stripMargin,

    "region_revenue" ->
      """SELECT r_name, n_name,
        |       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |       COUNT(*) AS n_items
        |FROM lineitem
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation   ON s_nationkey = n_nationkey
        |JOIN region   ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |GROUP BY r_name, n_name
        |ORDER BY r_name, n_name""".stripMargin,

    "brand_revenue" ->
      """SELECT p_brand,
        |       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |       SUM(l_quantity) AS sum_qty
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand
        |ORDER BY p_brand""".stripMargin,

    "set_ops" ->
      """WITH w AS (SELECT DISTINCT o_custkey AS custkey FROM orders),
        |b AS (SELECT DISTINCT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING')
        |SELECT 'both' AS tag, custkey FROM (SELECT custkey FROM w INTERSECT SELECT custkey FROM b)
        |UNION ALL
        |SELECT 'only_orders', custkey FROM (SELECT custkey FROM w EXCEPT SELECT custkey FROM b)
        |ORDER BY tag, custkey""".stripMargin,

    "rollup_qty" ->
      """SELECT l_returnflag, l_linestatus, SUM(l_quantity) AS sum_qty, COUNT(*) AS n,
        |       GROUPING(l_returnflag, l_linestatus) AS gid
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY gid, l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,

    "rolling_revenue" ->
      """SELECT o_custkey, o_orderkey, o_orderdate,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        |         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |         ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) AS rolling_3
        |FROM orders
        |WHERE o_custkey < 100
        |ORDER BY o_custkey, o_orderdate, o_orderkey""".stripMargin,

    "rank_in_nation" ->
      """SELECT * FROM (
        |  SELECT c_nationkey, c_custkey, c_acctbal,
        |         dense_rank() OVER (PARTITION BY c_nationkey
        |                            ORDER BY c_acctbal DESC, c_custkey) AS bal_rank
        |  FROM customer)
        |WHERE bal_rank <= 3
        |ORDER BY c_nationkey, bal_rank, c_custkey""".stripMargin,

    "sql_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
        |       COUNT(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= DATE '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "event_window_agg" ->
      """SELECT date_trunc('hour', ts) AS hour_start, event_type,
        |       COUNT(*) AS n,
        |       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY hour_start, event_type""".stripMargin,

    "stream_dedup_admitted" ->
      """SELECT user_id, event_type, ts_us, event_id
        |FROM (SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id,
        |             row_number() OVER (PARTITION BY user_id, event_type
        |                                ORDER BY epoch_us(ts), event_id) AS rn
        |      FROM events)
        |WHERE rn = 1
        |ORDER BY user_id, event_type""".stripMargin,

    "stream_session_summaries" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us, value FROM events),
        |flags AS (
        |  SELECT user_id, event_id, ts_us, value,
        |         CASE WHEN ts_us - LAG(ts_us) OVER w > 1800000000
        |              OR LAG(ts_us) OVER w IS NULL THEN 1 ELSE 0 END AS new_s
        |  FROM ev
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
        |sess AS (
        |  SELECT user_id, ts_us, value,
        |         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |                          ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM flags)
        |SELECT user_id, MIN(ts_us) AS session_start_us,
        |       MAX(ts_us) AS session_end_us, COUNT(*) AS n_events,
        |       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        |FROM sess
        |GROUP BY user_id, sid
        |ORDER BY user_id, session_start_us""".stripMargin,

    "stream_purchase_errors" ->
      """SELECT p.user_id, p.purchase_id, p.p_ts_us, e.error_id, e.e_ts_us
        |FROM (SELECT user_id, event_id AS purchase_id, epoch_us(ts) AS p_ts_us
        |      FROM events WHERE event_type = 'purchase') p
        |JOIN (SELECT user_id, event_id AS error_id, epoch_us(ts) AS e_ts_us
        |      FROM events WHERE event_type = 'error') e
        |  ON p.user_id = e.user_id
        | AND e.e_ts_us >= p.p_ts_us
        | AND e.e_ts_us <= p.p_ts_us + 3600000000
        |ORDER BY p.user_id, p.purchase_id, e.error_id""".stripMargin,

    "cube_qty" ->
      """SELECT l_returnflag, l_linestatus, SUM(l_quantity) AS sum_qty, COUNT(*) AS n,
        |       GROUPING(l_returnflag, l_linestatus) AS gid
        |FROM lineitem
        |GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY gid, l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,

    "benford_first_digit" ->
      """WITH c AS (
        |  SELECT o_orderpriority,
        |         CAST(SUBSTR(CAST(CAST(FLOOR(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit,
        |         COUNT(*) AS n
        |  FROM orders
        |  WHERE o_totalprice >= 1
        |  GROUP BY 1, 2)
        |SELECT o_orderpriority, digit, n,
        |       CAST(n AS DOUBLE) / CAST(SUM(n) OVER (PARTITION BY o_orderpriority) AS DOUBLE) AS share
        |FROM c
        |ORDER BY o_orderpriority, digit""".stripMargin,

    "zscore_outliers" ->
      """WITH stats AS (
        |  SELECT o_custkey, COUNT(*) AS n,
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS s1,
        |         CAST(SUM(CAST(o_totalprice * o_totalprice AS DECIMAL(38,2))) AS DOUBLE) AS s2
        |  FROM orders
        |  GROUP BY o_custkey
        |  HAVING COUNT(*) >= 5)
        |SELECT o.o_custkey, o_orderkey, o_totalprice,
        |       (o_totalprice - s1 / n) / sqrt((s2 - s1 * s1 / n) / (n - 1)) AS z
        |FROM orders o JOIN stats USING (o_custkey)
        |WHERE ABS((o_totalprice - s1 / n) / sqrt((s2 - s1 * s1 / n) / (n - 1))) > 2.0
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    "range_join_bands" ->
      """WITH bands(band, lo, hi) AS (VALUES
        |  ('economy', 900, 930), ('standard', 930, 955),
        |  ('plus', 955, 980), ('premium', 980, 1000))
        |SELECT band, COUNT(*) AS n_parts,
        |       CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM part JOIN bands ON p_retailprice >= lo AND p_retailprice < hi
        |GROUP BY band
        |ORDER BY band""".stripMargin,

    "orders_reconcile" ->
      """WITH li AS (
        |  SELECT l_orderkey AS o_orderkey,
        |         CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax)
        |                       AS DECIMAL(18,6))) AS DOUBLE) AS li_total
        |  FROM lineitem GROUP BY l_orderkey),
        |j AS (
        |  SELECT o.o_totalprice, li.li_total,
        |         CASE WHEN o.o_totalprice IS NULL THEN 'orphan_lineitem'
        |              WHEN li.li_total IS NULL THEN 'no_lineitems'
        |              WHEN abs(o.o_totalprice - li.li_total) <= 0.01 THEN 'match'
        |              ELSE 'mismatch' END AS status
        |  FROM orders o FULL OUTER JOIN li USING (o_orderkey))
        |SELECT status, COUNT(*) AS n,
        |       CAST(SUM(CAST(COALESCE(o_totalprice, 0.0) AS DECIMAL(18,2))) AS DOUBLE) AS order_total,
        |       CAST(SUM(CAST(COALESCE(li_total, 0.0) AS DECIMAL(18,6))) AS DOUBLE) AS lineitem_total
        |FROM j GROUP BY status
        |ORDER BY status""".stripMargin,

    "grouping_sets_qty" ->
      """SELECT l_returnflag, l_linestatus, SUM(l_quantity) AS sum_qty, COUNT(*) AS n,
        |       GROUPING(l_returnflag, l_linestatus) AS gid
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY gid, l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,

    "semi_join_exists" ->
      """SELECT c_custkey, c_name, c_acctbal, c_mktsegment
        |FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 450000)
        |ORDER BY c_custkey""".stripMargin,

    "linkage_weights" ->
      """WITH p AS (SELECT p_partkey, p_name, p_brand, p_size, p_type,
        |             string_split(p_type, ' ')[1] AS class,
        |             floor(CAST(p_retailprice AS DOUBLE) / 100) AS band
        |           FROM part),
        |pairs AS MATERIALIZED (
        |  SELECT levenshtein(a.p_name, b.p_name) <= 3 AS name_agree,
        |         a.class = b.class AS class_agree,
        |         a.p_type = b.p_type AS type_agree,
        |         a.band = b.band AS band_agree
        |  FROM p a JOIN p b ON a.p_brand = b.p_brand AND a.p_size = b.p_size
        |   AND a.p_partkey < b.p_partkey),
        |u AS (SELECT
        |  CAST(SUM(CASE WHEN name_agree THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS u_name,
        |  CAST(SUM(CASE WHEN class_agree THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS u_class,
        |  CAST(SUM(CASE WHEN type_agree THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS u_type,
        |  CAST(SUM(CASE WHEN band_agree THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS u_band
        |  FROM pairs),
        |pat AS (SELECT name_agree, class_agree, type_agree, band_agree,
        |               CAST(COUNT(*) AS BIGINT) AS n_pairs
        |        FROM pairs GROUP BY 1, 2, 3, 4),
        |w AS (SELECT name_agree, class_agree, type_agree, band_agree, n_pairs,
        |        floor((
        |          CASE WHEN name_agree THEN ln(0.95e0 / u_name)
        |               ELSE ln(0.05e0 / (1.0e0 - u_name)) END
        |          + CASE WHEN class_agree THEN ln(0.95e0 / u_class)
        |                 ELSE ln(0.05e0 / (1.0e0 - u_class)) END
        |          + CASE WHEN type_agree THEN ln(0.95e0 / u_type)
        |                 ELSE ln(0.05e0 / (1.0e0 - u_type)) END
        |          + CASE WHEN band_agree THEN ln(0.95e0 / u_band)
        |                 ELSE ln(0.05e0 / (1.0e0 - u_band)) END) * 1e6 + 0.5) / 1e6
        |          AS weight
        |      FROM pat, u)
        |SELECT name_agree, class_agree, type_agree, band_agree, n_pairs, weight,
        |       CASE WHEN weight > 2 THEN 'link' WHEN weight > 0 THEN 'possible'
        |            ELSE 'non_link' END AS decision
        |FROM w
        |ORDER BY name_agree, class_agree, type_agree, band_agree""".stripMargin,

    "fuzzy_name_match" ->
      """SELECT a.p_partkey AS a_key, b.p_partkey AS b_key,
        |       a.p_name AS a_name, b.p_name AS b_name,
        |       levenshtein(a.p_name, b.p_name) AS dist
        |FROM part a JOIN part b
        |  ON a.p_brand = b.p_brand AND a.p_size = b.p_size
        | AND a.p_partkey < b.p_partkey
        |WHERE levenshtein(a.p_name, b.p_name) BETWEEN 1 AND 3
        |ORDER BY a_key, b_key""".stripMargin,

    "median_mode" ->
      """WITH med AS (
        |  SELECT l_returnflag, median(l_quantity) AS median_qty
        |  FROM lineitem GROUP BY 1),
        |cnt AS (
        |  SELECT l_returnflag, l_quantity AS mode_qty, COUNT(*) AS mode_n,
        |         row_number() OVER (PARTITION BY l_returnflag
        |                            ORDER BY COUNT(*) DESC, l_quantity) AS rk
        |  FROM lineitem GROUP BY 1, 2)
        |SELECT l_returnflag, median_qty, mode_qty, mode_n
        |FROM med JOIN cnt USING (l_returnflag)
        |WHERE rk = 1
        |ORDER BY l_returnflag""".stripMargin,

    "corr_pricing" ->
      """WITH m AS (
        |  SELECT l_returnflag, COUNT(*) AS n,
        |         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
        |         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
        |         CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(38,2))) AS DOUBLE) AS sxy,
        |         CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(38,2))) AS DOUBLE) AS sxx,
        |         CAST(SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(38,2))) AS DOUBLE) AS syy
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, n,
        |       (n * sxy - sx * sy) /
        |       (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)) AS r
        |FROM m
        |ORDER BY l_returnflag""".stripMargin,

    "monthly_growth" ->
      """WITH m AS (
        |  SELECT strftime(o_orderdate, '%Y-%m') AS month,
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |  FROM orders GROUP BY 1)
        |SELECT month, revenue,
        |       lag(revenue) OVER (ORDER BY month) AS prev_revenue,
        |       (revenue - lag(revenue) OVER (ORDER BY month))
        |         / lag(revenue) OVER (ORDER BY month) * 100.0 AS growth_pct
        |FROM m
        |ORDER BY month""".stripMargin,

    "above_avg_balance" ->
      """WITH s AS (
        |  SELECT c_nationkey AS nk,
        |         CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS nation_avg
        |  FROM customer GROUP BY 1)
        |SELECT c_custkey, c_nationkey, c_acctbal, nation_avg
        |FROM customer JOIN s ON c_nationkey = nk
        |WHERE c_acctbal > nation_avg
        |ORDER BY c_custkey""".stripMargin,

    "topk_string_agg" ->
      """WITH r AS (
        |  SELECT c_nationkey, c_name,
        |         row_number() OVER (PARTITION BY c_nationkey
        |                            ORDER BY c_acctbal DESC, c_custkey) AS rk
        |  FROM customer)
        |SELECT c_nationkey, string_agg(c_name, ',' ORDER BY rk) AS top_names
        |FROM r WHERE rk <= 3
        |GROUP BY c_nationkey
        |ORDER BY c_nationkey""".stripMargin,

    "unpivot_long" ->
      """SELECT l_linestatus, l_returnflag,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |WHERE l_returnflag IN ('A', 'N', 'R')
        |GROUP BY 1, 2
        |ORDER BY l_linestatus, l_returnflag""".stripMargin,

    "basket_affinity" ->
      """WITH t AS (
        |  SELECT DISTINCT l_orderkey AS ok, p_type AS ty
        |  FROM lineitem JOIN part ON l_partkey = p_partkey)
        |SELECT a.ty AS type_a, b.ty AS type_b, COUNT(*) AS n_orders
        |FROM t a JOIN t b ON a.ok = b.ok AND a.ty < b.ty
        |GROUP BY 1, 2
        |ORDER BY type_a, type_b""".stripMargin,

    "scd2_history" ->
      """WITH m AS (
        |  SELECT o_custkey, o_orderkey, o_orderdate, o_orderpriority,
        |         CASE WHEN lag(o_orderpriority) OVER w IS NULL
        |                OR lag(o_orderpriority) OVER w <> o_orderpriority
        |              THEN 1 ELSE 0 END AS chg
        |  FROM orders
        |  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)),
        |r AS (
        |  SELECT o_custkey, o_orderpriority, o_orderdate,
        |         CAST(SUM(chg) OVER (PARTITION BY o_custkey
        |                             ORDER BY o_orderdate, o_orderkey
        |                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS version
        |  FROM m),
        |g AS (
        |  SELECT o_custkey, version, o_orderpriority,
        |         MIN(o_orderdate) AS valid_from, COUNT(*) AS n_orders
        |  FROM r GROUP BY o_custkey, version, o_orderpriority)
        |SELECT o_custkey, version, o_orderpriority, valid_from, n_orders,
        |       lead(valid_from) OVER wv AS valid_to,
        |       lead(valid_from) OVER wv IS NULL AS is_current
        |FROM g
        |WINDOW wv AS (PARTITION BY o_custkey ORDER BY version)
        |ORDER BY o_custkey, version""".stripMargin,

    "ntile_quartiles" ->
      """WITH t AS (
        |  SELECT c_nationkey, c_acctbal,
        |         ntile(4) OVER (PARTITION BY c_nationkey
        |                        ORDER BY c_acctbal DESC, c_custkey) AS tile
        |  FROM customer)
        |SELECT c_nationkey, tile, COUNT(*) AS n,
        |       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal_sum
        |FROM t GROUP BY 1, 2
        |ORDER BY c_nationkey, tile""".stripMargin,

    "table_profile" -> ProfileCols.map { c =>
      s"""SELECT '$c' AS col_name,
         |       CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_cnt,
         |       COUNT(DISTINCT $c) AS n_distinct,
         |       CAST(MIN($c) AS VARCHAR) AS min_val,
         |       CAST(MAX($c) AS VARCHAR) AS max_val
         |FROM orders""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY col_name"),

    "incremental_agg_merge" ->
      """SELECT strftime(o_orderdate, '%Y-%m') AS month,
        |       COUNT(*) AS n_orders,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders
        |GROUP BY 1
        |ORDER BY month""".stripMargin,

    "pareto_frontier" ->
      """SELECT o_orderkey, o_orderdate, o_totalprice
        |FROM orders o
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM orders o2
        |  WHERE o2.o_totalprice >= o.o_totalprice
        |    AND o2.o_orderdate <= o.o_orderdate
        |    AND (o2.o_totalprice > o.o_totalprice
        |         OR o2.o_orderdate < o.o_orderdate))
        |ORDER BY o_orderdate, o_orderkey""".stripMargin,

    "percentile_rank" ->
      """SELECT month, o_orderkey, o_totalprice, pr, cd FROM (
        |  SELECT strftime(o_orderdate, '%Y-%m') AS month, o_orderkey, o_totalprice,
        |         percent_rank() OVER w AS pr,
        |         cume_dist() OVER w AS cd
        |  FROM orders
        |  WINDOW w AS (PARTITION BY strftime(o_orderdate, '%Y-%m')
        |               ORDER BY o_totalprice))
        |ORDER BY month, o_totalprice, o_orderkey""".stripMargin,

    "zorder_value" ->
      s"""SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
         |       ${graft.sources.Bucketing.sqlZValue("l_partkey % 256", "l_suppkey % 256", 8)} AS z
         |FROM lineitem
         |ORDER BY z, l_orderkey, l_linenumber
         |LIMIT 200""".stripMargin,

    "triangle_count" ->
      """WITH ps AS (
        |  SELECT DISTINCT l_partkey AS p, l_suppkey AS su
        |  FROM lineitem WHERE l_partkey % 100 = 0),
        |e AS (
        |  SELECT DISTINCT a.su AS u, b.su AS v
        |  FROM ps a JOIN ps b ON a.p = b.p AND a.su < b.su),
        |tri AS (
        |  SELECT COUNT(*) AS n_triangles
        |  FROM e e1
        |  JOIN e e2 ON e1.v = e2.u
        |  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
        |ne AS (SELECT COUNT(*) AS n_edges FROM e),
        |nv AS (SELECT COUNT(DISTINCT su) AS n_vertices FROM ps)
        |SELECT n_triangles, n_edges, n_vertices FROM tri, ne, nv""".stripMargin,

    "key_skew_profile" ->
      """WITH c AS (SELECT l_suppkey, COUNT(*) AS cnt FROM lineitem GROUP BY l_suppkey)
        |SELECT COUNT(*) AS n_keys,
        |       CAST(SUM(cnt) AS BIGINT) AS n_rows,
        |       MAX(cnt) AS max_cnt,
        |       SUM(cnt) / COUNT(*) AS avg_cnt,
        |       quantile_cont(cnt, 0.5) AS p50_cnt,
        |       quantile_cont(cnt, 0.99) AS p99_cnt,
        |       round(MAX(cnt) / (SUM(cnt) / COUNT(*)), 6) AS skew_ratio
        |FROM c""".stripMargin,

    "k_anonymity" ->
      """WITH cls AS (
        |  SELECT c_nationkey, c_mktsegment, CAST(COUNT(*) AS BIGINT) AS class_size
        |  FROM customer GROUP BY 1, 2),
        |tot AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_classes,
        |         CAST(SUM(class_size) AS BIGINT) AS n_rows,
        |         CAST(MIN(class_size) AS BIGINT) AS min_class_size
        |  FROM cls),
        |ks AS (SELECT CAST(unnest([2, 5, 10, 20]) AS BIGINT) AS k),
        |v AS (
        |  SELECT ks.k,
        |         CAST(SUM(CASE WHEN class_size < ks.k THEN 1 ELSE 0 END)
        |           AS BIGINT) AS violating_classes,
        |         CAST(SUM(CASE WHEN class_size < ks.k THEN class_size ELSE 0 END)
        |           AS BIGINT) AS rows_at_risk
        |  FROM cls CROSS JOIN ks GROUP BY 1)
        |SELECT v.k, n_classes, min_class_size, violating_classes, rows_at_risk,
        |       floor(CAST(rows_at_risk AS DOUBLE) / n_rows * 1e6 + 0.5) / 1e6
        |         AS risk_share,
        |       (min_class_size >= v.k) AS k_anonymous
        |FROM v, tot ORDER BY k""".stripMargin,

    "snapshot_diff" ->
      """WITH a AS (
        |  SELECT o_custkey, COUNT(*) AS n,
        |         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS spend
        |  FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1993-01-01' AND o_orderdate < TIMESTAMP '1995-01-01'
        |  GROUP BY o_custkey),
        |b AS (
        |  SELECT o_custkey, COUNT(*) AS n,
        |         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS spend
        |  FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
        |  GROUP BY o_custkey),
        |d AS (
        |  SELECT CASE WHEN a.n IS NULL THEN 'added'
        |              WHEN b.n IS NULL THEN 'removed'
        |              WHEN a.n = b.n AND a.spend = b.spend THEN 'unchanged'
        |              ELSE 'changed' END AS status,
        |         COALESCE(b.spend, 0) - COALESCE(a.spend, 0) AS delta
        |  FROM a FULL OUTER JOIN b USING (o_custkey))
        |SELECT status, COUNT(*) AS n_customers,
        |       CAST(SUM(delta) AS DOUBLE) AS spend_delta
        |FROM d GROUP BY status
        |ORDER BY status""".stripMargin,

    "chi2_independence" ->
      """WITH obs AS (
        |  SELECT o_orderstatus AS st, o_orderpriority AS pr,
        |         CAST(COUNT(*) AS BIGINT) AS n
        |  FROM orders GROUP BY 1, 2),
        |rt AS (SELECT st, SUM(n) AS rs FROM obs GROUP BY st),
        |ct AS (SELECT pr, SUM(n) AS cs FROM obs GROUP BY pr),
        |nt AS (SELECT SUM(n) AS nn FROM obs),
        |dof AS (SELECT ((SELECT COUNT(*) FROM rt) - 1)
        |             * ((SELECT COUNT(*) FROM ct) - 1) AS dof),
        |terms AS (
        |  SELECT obs.n, CAST(rt.rs AS DOUBLE) * ct.cs / nt.nn AS e
        |  FROM obs JOIN rt USING (st) JOIN ct USING (pr) CROSS JOIN nt)
        |SELECT CAST(SUM(n) AS BIGINT) AS n_total,
        |       (SELECT CAST(dof AS BIGINT) FROM dof) AS dof,
        |       CAST(SUM(CAST(floor((n - e) * (n - e) / e * 1e6 + 0.5) / 1e6
        |                     AS DECIMAL(18,6))) AS DOUBLE) AS chi2
        |FROM terms""".stripMargin,

    "gini_concentration" ->
      """WITH rev AS (
        |  SELECT o_custkey,
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
        |  FROM orders GROUP BY 1),
        |pv AS (SELECT rev, CAST(COUNT(*) AS BIGINT) AS cnt FROM rev GROUP BY 1),
        |pre AS (
        |  SELECT rev, cnt,
        |         COALESCE(SUM(cnt) OVER (ORDER BY rev
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_cnt
        |  FROM pv),
        |agg AS (
        |  SELECT SUM(cnt) AS n,
        |         CAST(SUM(CAST(rev * cnt AS DECIMAL(28,6))) AS DOUBLE) AS t,
        |         CAST(SUM(CAST(rev * (cnt * cum_cnt + cnt * (cnt + 1) / 2)
        |                       AS DECIMAL(28,6))) AS DOUBLE) AS s
        |  FROM pre)
        |SELECT CAST(n AS BIGINT) AS n_customers,
        |       floor(t * 100 + 0.5) / 100 AS total_rev,
        |       floor((s * 2 / (n * t) - (n + 1.0) / n) * 1e6 + 0.5) / 1e6 AS gini
        |FROM agg""".stripMargin,

    "rfm_segments" ->
      """WITH mx AS (SELECT MAX(o_orderdate) AS maxd FROM orders),
        |cust AS (
        |  SELECT o_custkey, MAX(o_orderdate) AS last_d,
        |         CAST(COUNT(*) AS BIGINT) AS freq,
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS mon
        |  FROM orders GROUP BY 1),
        |seg AS (
        |  SELECT o_custkey, mon,
        |         CAST(ntile(4) OVER (ORDER BY
        |           date_diff('day', CAST(last_d AS DATE), CAST(maxd AS DATE)),
        |           o_custkey) AS BIGINT) AS r_q,
        |         CAST(ntile(4) OVER (ORDER BY freq DESC, o_custkey) AS BIGINT) AS f_q,
        |         CAST(ntile(4) OVER (ORDER BY mon DESC, o_custkey) AS BIGINT) AS m_q
        |  FROM cust, mx)
        |SELECT r_q, f_q, m_q, CAST(COUNT(*) AS BIGINT) AS n_customers,
        |       floor(CAST(SUM(CAST(mon AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
        |             * 100 + 0.5) / 100 AS avg_monetary
        |FROM seg GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    "ks_test" ->
      """WITH o AS (
        |  SELECT o_totalprice AS v,
        |         CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS g1
        |  FROM orders),
        |pv AS (SELECT v, CAST(SUM(g1) AS BIGINT) AS c1,
        |              CAST(SUM(1 - g1) AS BIGINT) AS c2
        |       FROM o GROUP BY 1),
        |cdf AS (SELECT SUM(c1) OVER (ORDER BY v) AS f1,
        |               SUM(c2) OVER (ORDER BY v) AS f2 FROM pv),
        |tot AS (SELECT SUM(c1) AS n1, SUM(c2) AS n2 FROM pv)
        |SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
        |       floor(MAX(ABS(CAST(f1 AS DOUBLE) / n1 - CAST(f2 AS DOUBLE) / n2))
        |             * 1e6 + 0.5) / 1e6 AS ks_stat
        |FROM cdf, tot GROUP BY n1, n2""".stripMargin,

    "welch_ttest" ->
      """WITH m AS (
        |  SELECT SUM(g1) AS n1, SUM(1 - g1) AS n2,
        |         CAST(SUM(CAST(CASE WHEN g1 = 1 THEN x ELSE 0e0 END
        |                       AS DECIMAL(18,2))) AS DOUBLE) AS s1a,
        |         CAST(SUM(CAST(CASE WHEN g1 = 0 THEN x ELSE 0e0 END
        |                       AS DECIMAL(18,2))) AS DOUBLE) AS s1b,
        |         CAST(SUM(CAST(CASE WHEN g1 = 1 THEN x * x ELSE 0e0 END
        |                       AS DECIMAL(38,4))) AS DOUBLE) AS s2a,
        |         CAST(SUM(CAST(CASE WHEN g1 = 0 THEN x * x ELSE 0e0 END
        |                       AS DECIMAL(38,4))) AS DOUBLE) AS s2b
        |  FROM (SELECT o_totalprice AS x,
        |               CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS g1
        |        FROM orders)),
        |d AS (
        |  SELECT n1, n2, s1a / n1 AS m1, s1b / n2 AS m2,
        |         (s2a - s1a * s1a / n1) / (n1 - 1) AS v1,
        |         (s2b - s1b * s1b / n2) / (n2 - 1) AS v2
        |  FROM m)
        |SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
        |       floor(m1 * 1e6 + 5e-1) / 1e6 AS mean_urgent,
        |       floor(m2 * 1e6 + 5e-1) / 1e6 AS mean_rest,
        |       floor((m1 - m2) / sqrt(v1 / n1 + v2 / n2) * 1e6 + 5e-1) / 1e6
        |         AS t_stat,
        |       floor((v1 / n1 + v2 / n2) * (v1 / n1 + v2 / n2) /
        |             ((v1 / n1) * (v1 / n1) / (n1 - 1) +
        |              (v2 / n2) * (v2 / n2) / (n2 - 1)) * 1e6 + 5e-1) / 1e6
        |         AS dof
        |FROM d""".stripMargin,

    "anova_f" ->
      """WITH grp AS (
        |  SELECT o_orderpriority AS pr, CAST(COUNT(*) AS BIGINT) AS n,
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS s1,
        |         CAST(SUM(CAST(o_totalprice * o_totalprice AS DECIMAL(38,4)))
        |              AS DOUBLE) AS s2
        |  FROM orders GROUP BY 1),
        |tot AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS k, SUM(n) AS nn,
        |         CAST(SUM(CAST(s1 AS DECIMAL(18,2))) AS DOUBLE) AS gs1
        |  FROM grp),
        |terms AS (
        |  SELECT k, nn,
        |         CAST(floor(n * (s1 / n - gs1 / nn) * (s1 / n - gs1 / nn)
        |                    * 1e2 + 5e-1) / 1e2 AS DECIMAL(28,2)) AS ssb_t,
        |         CAST(floor((s2 - s1 * s1 / n) * 1e2 + 5e-1) / 1e2
        |              AS DECIMAL(28,2)) AS ssw_t
        |  FROM grp CROSS JOIN tot),
        |agg AS (
        |  SELECT k, nn, CAST(SUM(ssb_t) AS DOUBLE) AS ssb,
        |         CAST(SUM(ssw_t) AS DOUBLE) AS ssw
        |  FROM terms GROUP BY k, nn)
        |SELECT k AS n_groups, CAST(nn AS BIGINT) AS n_total,
        |       floor(ssb * 1e2 + 5e-1) / 1e2 AS ss_between,
        |       floor(ssw * 1e2 + 5e-1) / 1e2 AS ss_within,
        |       floor((ssb / (k - 1)) / (ssw / (nn - k)) * 1e6 + 5e-1) / 1e6
        |         AS f_stat
        |FROM agg""".stripMargin,

    "tukey_hsd" ->
      """WITH grp AS (
        |  SELECT o_orderpriority AS pr, CAST(COUNT(*) AS BIGINT) AS n,
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS s1,
        |         CAST(SUM(CAST(o_totalprice * o_totalprice AS DECIMAL(38,4)))
        |              AS DOUBLE) AS s2
        |  FROM orders GROUP BY 1),
        |msw AS (
        |  SELECT CAST(SUM(t) AS DOUBLE) / (SUM(n) - COUNT(*)) AS msw
        |  FROM (SELECT n, CAST(floor((s2 - s1 * s1 / n) * 1e2 + 5e-1) / 1e2
        |                       AS DECIMAL(28,2)) AS t FROM grp))
        |SELECT a.pr AS pr_a, b.pr AS pr_b, a.n AS na, b.n AS nb,
        |       floor((a.s1 / a.n - b.s1 / b.n) * 1e2 + 5e-1) / 1e2 AS mean_diff,
        |       floor(abs(a.s1 / a.n - b.s1 / b.n) /
        |             sqrt(msw / 2.0 * (1.0 / a.n + 1.0 / b.n)) * 1e6 + 5e-1)
        |         / 1e6 AS q_stat
        |FROM grp a JOIN grp b ON a.pr < b.pr CROSS JOIN msw
        |ORDER BY pr_a, pr_b""".stripMargin,

    "bartlett_test" ->
      """WITH grp AS (
        |  SELECT c_nationkey AS nk, CAST(COUNT(*) AS BIGINT) AS n,
        |         CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS s1,
        |         CAST(SUM(CAST(c_acctbal * c_acctbal AS DECIMAL(38,4)))
        |              AS DOUBLE) AS s2
        |  FROM customer GROUP BY 1),
        |terms AS (
        |  SELECT n,
        |         CAST(floor((n - 1) * v * 1e2 + 5e-1) / 1e2 AS DECIMAL(28,2)) AS ssw_t,
        |         CAST(floor((n - 1) * ln(v) * 1e8 + 5e-1) / 1e8 AS DECIMAL(28,8)) AS lnv_t,
        |         CAST(floor(1.0 / (n - 1) * 1e8 + 5e-1) / 1e8 AS DECIMAL(28,8)) AS inv_t
        |  FROM (SELECT n, (s2 - s1 * s1 / n) / (n - 1) AS v FROM grp)),
        |agg AS (
        |  SELECT SUM(n) AS nn, CAST(COUNT(*) AS BIGINT) AS k,
        |         CAST(SUM(ssw_t) AS DOUBLE) AS ssw,
        |         CAST(SUM(lnv_t) AS DOUBLE) AS sum_ln,
        |         CAST(SUM(inv_t) AS DOUBLE) AS sum_inv
        |  FROM terms)
        |SELECT k AS n_groups, CAST(nn AS BIGINT) AS n_total,
        |       floor(ssw / (nn - k) * 1e2 + 5e-1) / 1e2 AS pooled_var,
        |       k - 1 AS dof,
        |       floor(((nn - k) * (floor(ln(ssw / (nn - k)) * 1e8 + 5e-1) / 1e8)
        |              - sum_ln) /
        |             (1.0 + (sum_inv - 1.0 / (nn - k)) / (3.0 * (k - 1)))
        |             * 1e6 + 5e-1) / 1e6 AS bartlett_stat
        |FROM agg""".stripMargin,

    "cuped_adjustment" ->
      """WITH spend AS (
        |  SELECT o_custkey AS ck, year(o_orderdate) AS yr,
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS s
        |  FROM orders WHERE year(o_orderdate) IN (1995, 1996) GROUP BY 1, 2),
        |xy AS (
        |  SELECT c.c_mktsegment AS segment, a.s AS x, b.s AS y
        |  FROM (SELECT ck, s FROM spend WHERE yr = 1995) a
        |  JOIN (SELECT ck, s FROM spend WHERE yr = 1996) b USING (ck)
        |  JOIN customer c ON c.c_custkey = a.ck),
        |m AS (
        |  SELECT segment, CAST(COUNT(*) AS BIGINT) AS n,
        |         CAST(SUM(CAST(x AS DECIMAL(18,2))) AS DOUBLE) AS sx,
        |         CAST(SUM(CAST(y AS DECIMAL(18,2))) AS DOUBLE) AS sy,
        |         CAST(SUM(CAST(x * x AS DECIMAL(38,4))) AS DOUBLE) AS sxx,
        |         CAST(SUM(CAST(y * y AS DECIMAL(38,4))) AS DOUBLE) AS syy,
        |         CAST(SUM(CAST(x * y AS DECIMAL(38,4))) AS DOUBLE) AS sxy
        |  FROM xy GROUP BY 1),
        |v AS (
        |  SELECT segment, n,
        |         sxy / n - sx / n * (sy / n) AS cxy,
        |         sxx / n - sx / n * (sx / n) AS vx,
        |         syy / n - sy / n * (sy / n) AS vy
        |  FROM m)
        |SELECT segment, n,
        |       floor(cxy / vx * 1e6 + 5e-1) / 1e6 AS theta,
        |       floor(vy * 1e2 + 5e-1) / 1e2 AS var_y,
        |       floor((vy - cxy * cxy / vx) * 1e2 + 5e-1) / 1e2 AS var_adjusted,
        |       floor(cxy * cxy / vx / vy * 1e6 + 5e-1) / 1e6 AS variance_reduction
        |FROM v ORDER BY segment""".stripMargin,

    "cochran_armitage" ->
      """WITH yr AS (
        |  SELECT year(l_shipdate) AS yr, CAST(COUNT(*) AS BIGINT) AS n,
        |         CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
        |              AS BIGINT) AS r
        |  FROM lineitem GROUP BY 1),
        |tot AS (SELECT MIN(yr) AS y0, CAST(COUNT(*) AS BIGINT) AS k,
        |               CAST(SUM(n) AS BIGINT) AS nn, CAST(SUM(r) AS BIGINT) AS rr
        |        FROM yr),
        |sums AS (
        |  SELECT k, nn, rr,
        |         CAST(SUM((yr - y0) * r) AS BIGINT) AS swr,
        |         CAST(SUM((yr - y0) * n) AS BIGINT) AS swn,
        |         CAST(SUM((yr - y0) * (yr - y0) * n) AS BIGINT) AS sw2n
        |  FROM yr, tot GROUP BY k, nn, rr)
        |SELECT k AS n_years, nn AS n_total, rr AS n_returns,
        |       floor(CAST(rr AS DOUBLE) / nn * 1e6 + 5e-1) / 1e6 AS pbar,
        |       floor((swr - CAST(rr AS DOUBLE) / nn * swn) /
        |             sqrt(CAST(rr AS DOUBLE) / nn *
        |                  (1.0 - CAST(rr AS DOUBLE) / nn) *
        |                  (sw2n - CAST(swn AS DOUBLE) * swn / nn))
        |             * 1e6 + 5e-1) / 1e6 AS z_trend
        |FROM sums""".stripMargin,

    "wilcoxon_signed_rank" ->
      """WITH spend AS (
        |  SELECT o_custkey AS ck, year(o_orderdate) AS yr,
        |         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS s
        |  FROM orders WHERE year(o_orderdate) IN (1995, 1996) GROUP BY 1, 2),
        |pairs AS MATERIALIZED (
        |  SELECT b.s - a.s AS d, abs(b.s - a.s) AS ad
        |  FROM (SELECT ck, s FROM spend WHERE yr = 1995) a
        |  JOIN (SELECT ck, s FROM spend WHERE yr = 1996) b USING (ck)
        |  WHERE b.s - a.s <> 0),
        |pv AS (SELECT ad, CAST(COUNT(*) AS BIGINT) AS cnt FROM pairs GROUP BY ad),
        |rk AS (SELECT ad,
        |         2 * CAST(COALESCE(SUM(cnt) OVER (ORDER BY ad
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |           + cnt + 1 AS r2
        |       FROM pv),
        |agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |          CAST(SUM(CASE WHEN d > 0 THEN r2 ELSE 0 END) AS BIGINT) AS w2p,
        |          CAST(SUM(CASE WHEN d < 0 THEN r2 ELSE 0 END) AS BIGINT) AS w2m
        |        FROM pairs JOIN rk USING (ad))
        |SELECT n AS n_pairs, w2p / 2.0 AS w_plus, w2m / 2.0 AS w_minus,
        |       floor((w2p / 2.0 - CAST(n AS DOUBLE) * (n + 1) / 4.0) /
        |             sqrt(CAST(n AS DOUBLE) * (n + 1) * (2 * n + 1) / 24.0)
        |             * 1e6 + 5e-1) / 1e6 AS z_stat
        |FROM agg""".stripMargin,

    "eb_shrinkage" ->
      """WITH rates AS MATERIALIZED (
        |  SELECT l_partkey AS p_partkey, CAST(COUNT(*) AS BIGINT) AS n_lines,
        |         CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
        |              AS BIGINT) AS n_returns,
        |         CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
        |              AS DOUBLE) / COUNT(*) AS p
        |  FROM lineitem GROUP BY 1),
        |prior AS (
        |  SELECT m, s2, CASE WHEN nu0 <= 0 THEN NULL ELSE nu0 END AS nu FROM (
        |  SELECT m, s2, CASE WHEN s2 <= 0 THEN NULL
        |                     ELSE m * (1.0 - m) / s2 - 1.0 END AS nu0 FROM (
        |    SELECT sp / k AS m, spp / k - (sp / k) * (sp / k) AS s2 FROM (
        |      SELECT CAST(COUNT(*) AS BIGINT) AS k,
        |             CAST(SUM(CAST(floor(p * 1e8 + 5e-1) / 1e8
        |                           AS DECIMAL(28,8))) AS DOUBLE) AS sp,
        |             CAST(SUM(CAST(floor(p * p * 1e8 + 5e-1) / 1e8
        |                           AS DECIMAL(28,8))) AS DOUBLE) AS spp
        |      FROM rates))))
        |SELECT p_partkey, n_lines, n_returns,
        |       floor(p * 1e6 + 5e-1) / 1e6 AS raw_rate,
        |       floor(m * nu * 1e6 + 5e-1) / 1e6 AS alpha,
        |       floor((1.0 - m) * nu * 1e6 + 5e-1) / 1e6 AS beta,
        |       floor((n_returns + m * nu) / (n_lines + nu) * 1e6 + 5e-1) / 1e6
        |         AS shrunk_rate
        |FROM rates, prior ORDER BY p_partkey""".stripMargin,

    "cramers_v" -> {
      def pair(aName: String, bName: String, aExpr: String, bExpr: String) =
        s"""SELECT '$aName' AS col_a, '$bName' AS col_b, n_total, dof,
           |       floor(chi2 * 1e6 + 5e-1) / 1e6 AS chi2,
           |       floor(sqrt(chi2 / (n_total * (least(nr, nc) - 1)))
           |             * 1e6 + 5e-1) / 1e6 AS cramers_v
           |FROM (
           |  WITH obs AS (
           |    SELECT $aExpr AS av, $bExpr AS bv, CAST(COUNT(*) AS BIGINT) AS n
           |    FROM orders GROUP BY 1, 2),
           |  rt AS (SELECT av, SUM(n) AS rs FROM obs GROUP BY av),
           |  ct AS (SELECT bv, SUM(n) AS cs FROM obs GROUP BY bv),
           |  nt AS (SELECT SUM(n) AS nn FROM obs),
           |  dims AS (SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM rt) AS nr,
           |                  (SELECT CAST(COUNT(*) AS BIGINT) FROM ct) AS nc)
           |  SELECT CAST(SUM(obs.n) AS BIGINT) AS n_total,
           |         (SELECT (nr - 1) * (nc - 1) FROM dims) AS dof,
           |         (SELECT nr FROM dims) AS nr, (SELECT nc FROM dims) AS nc,
           |         CAST(SUM(CAST(floor((obs.n - CAST(rt.rs AS DOUBLE) * ct.cs / nt.nn)
           |                             * (obs.n - CAST(rt.rs AS DOUBLE) * ct.cs / nt.nn)
           |                             / (CAST(rt.rs AS DOUBLE) * ct.cs / nt.nn)
           |                             * 1e6 + 5e-1) / 1e6
           |                       AS DECIMAL(18,6))) AS DOUBLE) AS chi2
           |  FROM obs JOIN rt USING (av) JOIN ct USING (bv) CROSS JOIN nt)""".stripMargin
      Seq(
        pair("o_orderstatus", "o_orderpriority",
          "o_orderstatus", "o_orderpriority"),
        pair("o_orderstatus", "order_year",
          "o_orderstatus", "CAST(year(o_orderdate) AS VARCHAR)"),
        pair("o_orderpriority", "order_year",
          "o_orderpriority", "CAST(year(o_orderdate) AS VARCHAR)"))
        .mkString("SELECT * FROM (\n", "\nUNION ALL\n",
          "\n) ORDER BY col_a, col_b")
    },

    "jarque_bera" ->
      """WITH m AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS s1,
        |         CAST(SUM(CAST(o_totalprice * o_totalprice AS DECIMAL(38,4)))
        |              AS DOUBLE) AS s2,
        |         CAST(SUM(CAST(o_totalprice * o_totalprice * o_totalprice
        |                       AS DECIMAL(38,4))) AS DOUBLE) AS s3,
        |         CAST(SUM(CAST(o_totalprice * o_totalprice * o_totalprice * o_totalprice
        |                       AS DECIMAL(38,4))) AS DOUBLE) AS s4
        |  FROM orders),
        |d AS (
        |  SELECT n, CAST(n AS DOUBLE) AS nd, s1 / CAST(n AS DOUBLE) AS mu,
        |         s2, s3, s4
        |  FROM m),
        |c AS (
        |  SELECT n, nd, mu,
        |         s2 / nd - mu * mu AS m2,
        |         s3 / nd - 3e0 * mu * (s2 / nd) + 2e0 * mu * mu * mu AS m3,
        |         s4 / nd - 4e0 * mu * (s3 / nd) + 6e0 * mu * mu * (s2 / nd)
        |           - 3e0 * mu * mu * mu * mu AS m4
        |  FROM d),
        |e AS (
        |  SELECT n, nd, m3 / (m2 * sqrt(m2)) AS sk,
        |         m4 / (m2 * m2) - 3e0 AS ku
        |  FROM c)
        |SELECT n,
        |       floor(sk * 1e6 + 5e-1) / 1e6 AS skewness,
        |       floor(ku * 1e6 + 5e-1) / 1e6 AS excess_kurtosis,
        |       floor(nd / 6 * (sk * sk + ku * ku / 4) * 1e6 + 5e-1) / 1e6 AS jb_stat
        |FROM e""".stripMargin,

    "levene_test" ->
      """WITH o AS (SELECT o_orderpriority AS pr, o_totalprice AS x,
        |                  o_orderkey AS ok FROM orders),
        |rk AS (
        |  SELECT pr, x,
        |         CAST(row_number() OVER (PARTITION BY pr ORDER BY x, ok)
        |              AS BIGINT) AS rn,
        |         CAST(COUNT(*) OVER (PARTITION BY pr) AS BIGINT) AS n
        |  FROM o),
        |med AS (
        |  SELECT pr, CAST(SUM(CAST(x AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
        |           AS med
        |  FROM rk WHERE rn = (n + 1) // 2 OR rn = (n + 2) // 2
        |  GROUP BY pr),
        |dev AS (
        |  SELECT o.pr, floor(abs(o.x - med.med) * 1e6 + 5e-1) / 1e6 AS d
        |  FROM o JOIN med USING (pr)),
        |grp AS (
        |  SELECT pr, CAST(COUNT(*) AS BIGINT) AS n,
        |         CAST(SUM(CAST(d AS DECIMAL(18,6))) AS DOUBLE) AS s1,
        |         CAST(SUM(CAST(d * d AS DECIMAL(38,6))) AS DOUBLE) AS s2
        |  FROM dev GROUP BY pr),
        |tot AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS k, SUM(n) AS nn,
        |         CAST(SUM(CAST(s1 AS DECIMAL(18,6))) AS DOUBLE) AS gs1
        |  FROM grp),
        |terms AS (
        |  SELECT k, nn,
        |         CAST(floor(n * (s1 / n - gs1 / nn) * (s1 / n - gs1 / nn)
        |                    * 1e2 + 5e-1) / 1e2 AS DECIMAL(28,2)) AS ssb_t,
        |         CAST(floor((s2 - s1 * s1 / n) * 1e2 + 5e-1) / 1e2
        |              AS DECIMAL(28,2)) AS ssw_t
        |  FROM grp CROSS JOIN tot),
        |agg AS (
        |  SELECT k, nn, CAST(SUM(ssb_t) AS DOUBLE) AS ssb,
        |         CAST(SUM(ssw_t) AS DOUBLE) AS ssw
        |  FROM terms GROUP BY k, nn)
        |SELECT k AS n_groups, CAST(nn AS BIGINT) AS n_total,
        |       floor((ssb / (k - 1)) / (ssw / (nn - k)) * 1e6 + 5e-1) / 1e6
        |         AS f_stat
        |FROM agg""".stripMargin,

    "adamic_adar" ->
      s"""WITH b AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
         |e AS (SELECT DISTINCT a.pk AS src, c.pk AS dst
         |      FROM b a JOIN b c ON a.ok = c.ok AND a.pk < c.pk),
         |nbr AS MATERIALIZED (
         |  SELECT src AS z, dst AS n FROM e
         |  UNION ALL SELECT dst AS z, src AS n FROM e),
         |term AS (SELECT z,
         |           CAST(floor(1e8 / ln(CAST(COUNT(*) AS DOUBLE)) + 5e-1)
         |                AS BIGINT) AS t8
         |         FROM nbr GROUP BY z),
         |probes AS (SELECT DISTINCT z AS p FROM nbr ORDER BY p LIMIT $AaProbes),
         |cand AS (SELECT probes.p, nbr.n AS w
         |         FROM probes JOIN nbr ON nbr.z = probes.p),
         |sc AS (
         |  SELECT cand.p, n2.n AS b, CAST(COUNT(*) AS BIGINT) AS n_common,
         |         CAST(SUM(term.t8) AS BIGINT) AS s8
         |  FROM cand JOIN nbr n2 ON n2.z = cand.w
         |  JOIN term ON term.z = cand.w
         |  WHERE n2.n <> cand.p
         |  GROUP BY cand.p, n2.n),
         |nc AS (
         |  SELECT sc.p, sc.b, sc.n_common, sc.s8
         |  FROM sc LEFT JOIN e ON least(sc.p, sc.b) = e.src
         |                     AND greatest(sc.p, sc.b) = e.dst
         |  WHERE e.src IS NULL),
         |rk AS (
         |  SELECT p, b, n_common, s8,
         |         CAST(row_number() OVER (PARTITION BY p
         |           ORDER BY s8 DESC, b) AS BIGINT) AS rank
         |  FROM nc)
         |SELECT p AS probe, rank, b AS candidate, n_common,
         |       CAST(s8 AS DOUBLE) / 1e8 AS aa_score
         |FROM rk WHERE rank <= 10
         |ORDER BY probe, rank""".stripMargin,

    "rich_club" -> {
      val ks = Seq(2, 4, 8, 16, 32)
      val eCols = ks.map(k =>
        s"SUM(CASE WHEN md > $k THEN 1 ELSE 0 END) AS e_$k").mkString(", ")
      val nCols = ks.map(k =>
        s"SUM(CASE WHEN d > $k THEN 1 ELSE 0 END) AS n_$k").mkString(", ")
      val rows = ks.map { k =>
        s"""SELECT CAST($k AS BIGINT) AS k, CAST(n_$k AS BIGINT) AS n_nodes,
           |       CAST(e_$k AS BIGINT) AS n_edges,
           |       CASE WHEN n_$k >= 2 THEN
           |         floor(CAST(e_$k AS DOUBLE) * 2 /
           |               (CAST(n_$k AS DOUBLE) * (n_$k - 1)) * 1e6 + 5e-1) / 1e6
           |       END AS phi
           |FROM er, nr""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH b AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
         |e AS (SELECT DISTINCT a.pk AS src, c.pk AS dst
         |      FROM b a JOIN b c ON a.ok = c.ok AND a.pk < c.pk),
         |dk AS (SELECT n, CAST(SUM(d) AS BIGINT) AS d FROM (
         |         SELECT src AS n, COUNT(*) AS d FROM e GROUP BY src
         |         UNION ALL
         |         SELECT dst AS n, COUNT(*) AS d FROM e GROUP BY dst)
         |       GROUP BY n),
         |em AS (SELECT least(ds.d, dd.d) AS md
         |       FROM e JOIN dk ds ON e.src = ds.n JOIN dk dd ON e.dst = dd.n),
         |er AS (SELECT $eCols FROM em),
         |nr AS (SELECT $nCols FROM dk)
         |SELECT * FROM (
         |$rows
         |) ORDER BY k""".stripMargin
    },

    "katz_index" ->
      s"""WITH b AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
         |e AS (SELECT DISTINCT a.pk AS src, c.pk AS dst
         |      FROM b a JOIN b c ON a.ok = c.ok AND a.pk < c.pk),
         |nbr AS MATERIALIZED (
         |  SELECT src AS z, dst AS n FROM e
         |  UNION ALL SELECT dst AS z, src AS n FROM e),
         |probes AS (SELECT DISTINCT z AS p FROM nbr ORDER BY p LIMIT $AaProbes),
         |v1 AS MATERIALIZED (
         |  SELECT probes.p, nbr.n AS bb, CAST(1 AS BIGINT) AS c
         |  FROM probes JOIN nbr ON nbr.z = probes.p),
         |v2 AS MATERIALIZED (
         |  SELECT v1.p, nbr.n AS bb, CAST(SUM(v1.c) AS BIGINT) AS c
         |  FROM v1 JOIN nbr ON nbr.z = v1.bb GROUP BY v1.p, nbr.n),
         |v3 AS MATERIALIZED (
         |  SELECT v2.p, nbr.n AS bb, CAST(SUM(v2.c) AS BIGINT) AS c
         |  FROM v2 JOIN nbr ON nbr.z = v2.bb GROUP BY v2.p, nbr.n),
         |u AS (
         |  SELECT p, bb, 1 AS lvl, c FROM v1
         |  UNION ALL SELECT p, bb, 2 AS lvl, c FROM v2
         |  UNION ALL SELECT p, bb, 3 AS lvl, c FROM v3),
         |m AS (
         |  SELECT p, bb,
         |    CAST(SUM(CASE WHEN lvl = 1 THEN c ELSE 0 END) AS BIGINT) AS c1,
         |    CAST(SUM(CASE WHEN lvl = 2 THEN c ELSE 0 END) AS BIGINT) AS c2,
         |    CAST(SUM(CASE WHEN lvl = 3 THEN c ELSE 0 END) AS BIGINT) AS c3
         |  FROM u WHERE bb <> p GROUP BY p, bb),
         |k AS (
         |  SELECT p, bb, c1, c2, c3,
         |         c1 * 5e-1 + c2 * 25e-2 + c3 * 125e-3 AS katz
         |  FROM m),
         |rk AS (
         |  SELECT p, bb, c1, c2, c3, katz,
         |         CAST(row_number() OVER (PARTITION BY p
         |           ORDER BY katz DESC, bb) AS BIGINT) AS rank
         |  FROM k)
         |SELECT p AS probe, rank, bb AS candidate, c1, c2, c3, katz
         |FROM rk WHERE rank <= 10
         |ORDER BY probe, rank""".stripMargin,

    "closeness_centrality" -> {
      val hops = (1 to BfsHops).map { k =>
        s"""f$k AS MATERIALIZED (
           |  SELECT DISTINCT f.seed, e.dst AS n
           |  FROM e JOIN f${k - 1} f ON e.src = f.n
           |  WHERE NOT EXISTS (SELECT 1 FROM v${k - 1} v
           |                    WHERE v.seed = f.seed AND v.n = e.dst)),
           |v$k AS MATERIALIZED (
           |  SELECT seed, n FROM v${k - 1} UNION ALL SELECT seed, n FROM f$k),
           |c$k AS (SELECT seed, CAST(COUNT(*) AS BIGINT) AS h$k
           |        FROM f$k GROUP BY seed)""".stripMargin
      }.mkString(",\n")
      val joins = (1 to BfsHops).map(k =>
        s"LEFT JOIN c$k ON c$k.seed = s.seed").mkString("\n")
      val hcols = (1 to BfsHops).map(k =>
        s"COALESCE(c$k.h$k, 0) AS h$k").mkString(", ")
      val reach = (1 to BfsHops).map(k => s"h$k * 1").mkString(" + ")
      val dist = (1 to BfsHops).map(k => s"h$k * $k").mkString(" + ")
      val harm = (1 to BfsHops).map(k => s"h$k / ${k}e0").mkString(" + ")
      s"""WITH b AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
         |e AS (SELECT DISTINCT a.pk AS src, c.pk AS dst
         |      FROM b a JOIN b c ON a.ok = c.ok AND a.pk <> c.pk),
         |seeds AS MATERIALIZED (
         |  SELECT src AS seed FROM e GROUP BY src ORDER BY seed LIMIT $ClosenessSeeds),
         |f0 AS MATERIALIZED (SELECT seed, seed AS n FROM seeds),
         |v0 AS (SELECT seed, n FROM f0),
         |$hops,
         |w AS (SELECT s.seed, $hcols FROM seeds s
         |$joins)
         |SELECT seed, CAST($reach AS BIGINT) AS n_reached,
         |       CAST($dist AS BIGINT) AS sum_dist,
         |       floor(($harm) * 1e6 + 5e-1) / 1e6 AS harmonic
         |FROM w ORDER BY seed""".stripMargin
    },

    "k_truss" -> {
      val rounds = (1 to TrussRounds).map { r =>
        s"""adj${r - 1} AS (SELECT src AS z, dst AS n FROM e${r - 1}
           |             UNION ALL SELECT dst AS z, src AS n FROM e${r - 1}),
           |sup${r - 1} AS (
           |  SELECT ee.src, ee.dst, COUNT(*) AS sup
           |  FROM e${r - 1} ee
           |  JOIN adj${r - 1} a ON a.z = ee.src
           |  JOIN adj${r - 1} b2 ON b2.z = ee.dst AND b2.n = a.n
           |  GROUP BY ee.src, ee.dst),
           |e$r AS (SELECT src, dst FROM sup${r - 1}
           |        WHERE sup >= ${TrussK - 2})""".stripMargin
      }.mkString(",\n")
      val rows = (1 to TrussRounds).map { r =>
        s"""SELECT CAST($r AS BIGINT) AS round,
           |       (SELECT CAST(COUNT(*) AS BIGINT) FROM e$r) AS n_edges""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH b AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
         |e0 AS (SELECT DISTINCT a.pk AS src, b2.pk AS dst
         |       FROM b a JOIN b b2 ON a.ok = b2.ok AND a.pk < b2.pk),
         |$rounds
         |SELECT * FROM ($rows) ORDER BY round""".stripMargin
    },

    "frequent_triples" ->
      """WITH b AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |           FROM lineitem)
        |SELECT a.pk AS p1, c.pk AS p2, d.pk AS p3,
        |       CAST(COUNT(*) AS BIGINT) AS support
        |FROM b a
        |JOIN b c ON a.ok = c.ok AND a.pk < c.pk
        |JOIN b d ON a.ok = d.ok AND c.pk < d.pk
        |GROUP BY 1, 2, 3
        |ORDER BY support DESC, p1, p2, p3 LIMIT 20""".stripMargin,

    "theil_index" ->
      """WITH cust AS (
        |  SELECT o_custkey AS ck,
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS x
        |  FROM orders GROUP BY 1),
        |cx AS MATERIALIZED (
        |  SELECT ck, x, c_nationkey AS nk
        |  FROM cust JOIN customer ON c_custkey = ck),
        |g AS MATERIALIZED (
        |  SELECT nk, CAST(COUNT(*) AS BIGINT) AS n_g,
        |         CAST(SUM(CAST(x AS DECIMAL(18,4))) AS DOUBLE) AS sx,
        |         CAST(SUM(CAST(x AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS mu_g
        |  FROM cx GROUP BY nk),
        |tt AS (SELECT CAST(SUM(n_g) AS BIGINT) AS n_tot,
        |              CAST(SUM(CAST(sx AS DECIMAL(18,4))) AS DOUBLE) AS s_tot
        |       FROM g),
        |tw AS (
        |  SELECT cx.nk,
        |         CAST(SUM(CAST(floor(x / mu_g * ln(x / mu_g) * 1e8 + 5e-1) / 1e8
        |                       AS DECIMAL(18,8))) AS DOUBLE) AS st
        |  FROM cx JOIN g ON g.nk = cx.nk GROUP BY cx.nk)
        |SELECT g.nk AS nationkey, n_g AS n_cust,
        |       floor(mu_g * 1e2 + 5e-1) / 1e2 AS mean_spend,
        |       floor(sx / s_tot * 1e6 + 5e-1) / 1e6 AS spend_share,
        |       floor(st / n_g * 1e6 + 5e-1) / 1e6 AS theil_within,
        |       floor(sx / s_tot * ln(mu_g / (s_tot / n_tot)) * 1e6 + 5e-1)
        |         / 1e6 AS between_term
        |FROM g JOIN tw ON tw.nk = g.nk CROSS JOIN tt
        |ORDER BY nationkey""".stripMargin,

    "price_elasticity" ->
      """WITH parts AS (
        |  SELECT p_brand,
        |         floor(ln(SUM(l_quantity)) * 1e6 + 5e-1) / 1e6 AS lq,
        |         floor(ln(CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
        |                                AS DECIMAL(18,4))) AS DOUBLE)
        |                  / SUM(l_quantity)) * 1e6 + 5e-1) / 1e6 AS lp
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  GROUP BY p_brand, l_partkey),
        |g AS (
        |  SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n_parts,
        |         CAST(SUM(CAST(lq AS DECIMAL(18,6))) AS DOUBLE) AS sq,
        |         CAST(SUM(CAST(lp AS DECIMAL(18,6))) AS DOUBLE) AS sp,
        |         CAST(SUM(CAST(floor(lq * lp * 1e6 + 5e-1) / 1e6
        |                       AS DECIMAL(18,6))) AS DOUBLE) AS sqp,
        |         CAST(SUM(CAST(floor(lp * lp * 1e6 + 5e-1) / 1e6
        |                       AS DECIMAL(18,6))) AS DOUBLE) AS spp
        |  FROM parts GROUP BY p_brand)
        |SELECT p_brand, n_parts,
        |       floor((sqp - sq * sp / n_parts) / (spp - sp * sp / n_parts)
        |             * 1e6 + 5e-1) / 1e6 AS elasticity,
        |       floor(sq / n_parts * 1e6 + 5e-1) / 1e6 AS mean_ln_qty,
        |       floor(sp / n_parts * 1e6 + 5e-1) / 1e6 AS mean_ln_price
        |FROM g ORDER BY p_brand""".stripMargin,

    "powerlaw_alpha" ->
      """WITH cust AS (
        |  SELECT o_custkey AS ck,
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS x
        |  FROM orders GROUP BY 1),
        |xm AS (SELECT CAST(SUM(CAST(x AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*)
        |               AS x_min
        |       FROM cust),
        |a AS (
        |  SELECT x_min, CAST(COUNT(*) AS BIGINT) AS n_tail,
        |         CAST(SUM(CAST(floor(ln(x / x_min) * 1e8 + 5e-1) / 1e8
        |                       AS DECIMAL(18,8))) AS DOUBLE) AS sl
        |  FROM cust, xm WHERE x > x_min GROUP BY x_min)
        |SELECT n_tail, floor(x_min * 1e2 + 5e-1) / 1e2 AS x_min,
        |       floor((1e0 + n_tail / sl) * 1e6 + 5e-1) / 1e6 AS alpha
        |FROM a""".stripMargin,

    "atkinson_index" ->
      """WITH cust AS (
        |  SELECT o_custkey AS ck,
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS x
        |  FROM orders GROUP BY 1),
        |g AS (
        |  SELECT c_nationkey AS nk, CAST(COUNT(*) AS BIGINT) AS n_cust,
        |         CAST(SUM(CAST(x AS DECIMAL(18,4))) AS DOUBLE) AS sx,
        |         CAST(SUM(CAST(floor(sqrt(x) * 1e6 + 5e-1) / 1e6
        |                       AS DECIMAL(18,6))) AS DOUBLE) AS ssq
        |  FROM cust JOIN customer ON c_custkey = ck
        |  GROUP BY 1)
        |SELECT nk AS nationkey, n_cust,
        |       floor(sx / n_cust * 1e2 + 5e-1) / 1e2 AS mean_spend,
        |       floor((1e0 - (ssq / n_cust) * (ssq / n_cust) / (sx / n_cust))
        |             * 1e6 + 5e-1) / 1e6 AS atkinson_half
        |FROM g ORDER BY nationkey""".stripMargin,

    "friedman_test" ->
      """WITH m AS (
        |  SELECT strftime(o_orderdate, '%Y-%m') AS blk, o_orderpriority AS trt,
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
        |           / COUNT(*) AS v
        |  FROM orders GROUP BY 1, 2),
        |fb AS (SELECT blk FROM m GROUP BY blk HAVING COUNT(*) = 5),
        |r AS (
        |  SELECT m.trt,
        |         CAST(rank() OVER (PARTITION BY m.blk ORDER BY v) AS BIGINT) AS mr,
        |         CAST(COUNT(*) OVER (PARTITION BY m.blk, v) AS BIGINT) AS ce
        |  FROM m JOIN fb USING (blk)),
        |ar AS (SELECT trt, mr + CAST(ce - 1 AS DOUBLE) / 2e0 AS ar FROM r),
        |rj AS (SELECT trt, CAST(SUM(CAST(ar AS DECIMAL(18,1))) AS DOUBLE) AS rsum,
        |              CAST(COUNT(*) AS BIGINT) AS nb
        |       FROM ar GROUP BY trt),
        |n1 AS (SELECT MAX(nb) AS n FROM rj),
        |a AS (SELECT n, CAST(SUM(CAST(rsum * rsum AS DECIMAL(38,2))) AS DOUBLE)
        |             AS sr2
        |      FROM rj, n1 GROUP BY n)
        |SELECT CAST(n AS BIGINT) AS n_blocks, CAST(5 AS BIGINT) AS k_treatments,
        |       floor((12e0 / (CAST(n AS DOUBLE) * 5 * 6) * sr2 - 3e0 * n * 6)
        |             * 1e6 + 5e-1) / 1e6 AS q_stat,
        |       floor((12e0 / (CAST(n AS DOUBLE) * 5 * 6) * sr2 - 3e0 * n * 6)
        |             * 1e6 + 5e-1) / 1e6 > 9.487729 AS reject_95
        |FROM a""".stripMargin,

    "l_diversity" ->
      """WITH cls AS (
        |  SELECT c_nationkey, c_mktsegment,
        |         CAST(COUNT(*) AS BIGINT) AS class_size,
        |         CAST(COUNT(DISTINCT CASE WHEN c_acctbal < 0 THEN 'debt'
        |                WHEN c_acctbal < 5000 THEN 'low' ELSE 'high' END)
        |              AS BIGINT) AS l_c
        |  FROM customer GROUP BY 1, 2),
        |tt AS (SELECT CAST(SUM(class_size) AS BIGINT) AS n_rows FROM cls)
        |SELECT l_c AS l_distinct, CAST(COUNT(*) AS BIGINT) AS n_classes,
        |       CAST(SUM(class_size) AS BIGINT) AS n_rows,
        |       floor(CAST(SUM(class_size) AS DOUBLE) / MAX(tt.n_rows)
        |             * 1e6 + 5e-1) / 1e6 AS row_share
        |FROM cls, tt GROUP BY l_c ORDER BY l_distinct""".stripMargin,

    "link_pred_suite" ->
      s"""WITH b AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
         |e AS (SELECT DISTINCT a.pk AS src, c.pk AS dst
         |      FROM b a JOIN b c ON a.ok = c.ok AND a.pk < c.pk),
         |nbr AS MATERIALIZED (
         |  SELECT src AS z, dst AS n FROM e
         |  UNION ALL SELECT dst AS z, src AS n FROM e),
         |deg AS MATERIALIZED (
         |  SELECT z, CAST(COUNT(*) AS BIGINT) AS d FROM nbr GROUP BY z),
         |term AS (SELECT z, CAST(floor(1e8 / d + 5e-1) AS BIGINT) AS t8
         |         FROM deg),
         |probes AS (SELECT DISTINCT z AS p FROM nbr ORDER BY p LIMIT $AaProbes),
         |cand AS (SELECT probes.p, nbr.n AS w
         |         FROM probes JOIN nbr ON nbr.z = probes.p),
         |sc AS (
         |  SELECT cand.p, n2.n AS b, CAST(COUNT(*) AS BIGINT) AS n_common,
         |         CAST(SUM(term.t8) AS BIGINT) AS s8
         |  FROM cand JOIN nbr n2 ON n2.z = cand.w
         |  JOIN term ON term.z = cand.w
         |  WHERE n2.n <> cand.p
         |  GROUP BY cand.p, n2.n),
         |nc AS (
         |  SELECT sc.p, sc.b, sc.n_common, sc.s8
         |  FROM sc LEFT JOIN e ON least(sc.p, sc.b) = e.src
         |                     AND greatest(sc.p, sc.b) = e.dst
         |  WHERE e.src IS NULL),
         |dj AS (
         |  SELECT nc.*, dp.d AS dp, db.d AS db
         |  FROM nc JOIN deg dp ON dp.z = nc.p JOIN deg db ON db.z = nc.b),
         |rk AS (
         |  SELECT p, b, n_common, s8, dp, db,
         |         CAST(row_number() OVER (PARTITION BY p
         |           ORDER BY n_common DESC, s8 DESC, b) AS BIGINT) AS rank
         |  FROM dj)
         |SELECT p AS probe, rank, b AS candidate, n_common,
         |       floor(CAST(n_common AS DOUBLE) / (dp + db - n_common)
         |             * 1e6 + 5e-1) / 1e6 AS jaccard,
         |       CAST(s8 AS DOUBLE) / 1e8 AS ra_score
         |FROM rk WHERE rank <= 10
         |ORDER BY probe, rank""".stripMargin,

    "max_drawdown" ->
      """WITH d AS (SELECT CAST(l_shipdate AS DATE) AS day,
        |             CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
        |                           AS DECIMAL(18,4))) AS DOUBLE) AS rev
        |           FROM lineitem GROUP BY 1),
        |c AS (SELECT day,
        |        CAST(SUM(CAST(rev AS DECIMAL(18,4)))
        |             OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS cum
        |      FROM d),
        |p AS (SELECT day, cum,
        |        MAX(cum) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS peak
        |      FROM c)
        |SELECT day AS trough_day,
        |       floor((peak - cum) * 1e2 + 5e-1) / 1e2 AS drawdown,
        |       floor(peak * 1e2 + 5e-1) / 1e2 AS peak_cum,
        |       floor(cum * 1e2 + 5e-1) / 1e2 AS cum_at_trough
        |FROM p ORDER BY drawdown DESC, trough_day LIMIT 1""".stripMargin,

    "hhi_concentration" ->
      """WITH b AS (
        |  SELECT p_brand,
        |         CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
        |                       AS DECIMAL(18,4))) AS DOUBLE) AS rev
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  GROUP BY p_brand),
        |tt AS (SELECT CAST(SUM(CAST(rev AS DECIMAL(18,4))) AS DOUBLE) AS tot
        |       FROM b),
        |a AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_brands,
        |         CAST(SUM(CAST(floor((rev / tot) * (rev / tot) * 1e8 + 5e-1)
        |                       / 1e8 AS DECIMAL(18,8))) AS DOUBLE) AS hhi_raw
        |  FROM b, tt)
        |SELECT n_brands, floor(hhi_raw * 1e6 + 5e-1) / 1e6 AS hhi,
        |       floor((hhi_raw - 1e0 / n_brands) / (1e0 - 1e0 / n_brands)
        |             * 1e6 + 5e-1) / 1e6 AS hhi_normalized
        |FROM a""".stripMargin,

    "abc_analysis" ->
      """WITH pr AS (
        |  SELECT l_partkey AS pk,
        |         CAST(SUM(CAST(floor(l_extendedprice * (1 - l_discount)
        |                             * 1e2 + 5e-1) AS BIGINT)) AS BIGINT) AS rev2
        |  FROM lineitem GROUP BY 1),
        |tt AS (SELECT CAST(SUM(rev2) AS BIGINT) AS tot FROM pr),
        |c AS (
        |  SELECT pk, rev2,
        |         COALESCE(SUM(rev2) OVER (ORDER BY -rev2, pk
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |           AS cum_rev2
        |  FROM pr),
        |cls AS (
        |  SELECT pk, rev2,
        |         floor(CAST(cum_rev2 + rev2 AS DOUBLE) / tot * 1e6 + 5e-1)
        |           / 1e6 AS cshare
        |  FROM c, tt),
        |lab AS (
        |  SELECT pk, rev2, cshare,
        |         CASE WHEN cshare <= 0.8 THEN 'A'
        |              WHEN cshare <= 0.95 THEN 'B' ELSE 'C' END AS abc_class
        |  FROM cls)
        |SELECT abc_class, CAST(COUNT(*) AS BIGINT) AS n_parts,
        |       CAST(SUM(rev2) AS DOUBLE) / 1e2 AS class_revenue,
        |       MAX(cshare) AS cum_share_max
        |FROM lab GROUP BY abc_class ORDER BY abc_class""".stripMargin,

    "var_historical" ->
      """WITH d0 AS (SELECT CAST(l_shipdate AS DATE) AS day,
        |              CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
        |                            AS DECIMAL(18,4))) AS DOUBLE) AS rev
        |            FROM lineitem GROUP BY 1),
        |d AS (SELECT day, rev - lag(rev) OVER (ORDER BY day) AS delta FROM d0),
        |dd AS MATERIALIZED (SELECT day, delta FROM d WHERE delta IS NOT NULL),
        |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM dd),
        |r AS (SELECT day, delta,
        |        CAST(row_number() OVER (ORDER BY delta, day) AS BIGINT) AS rn
        |      FROM dd),
        |k AS (SELECT r.*, n,
        |        CAST(ceil(0.05 * n) AS BIGINT) AS k95,
        |        CAST(ceil(0.01 * n) AS BIGINT) AS k99
        |      FROM r, n),
        |a AS (
        |  SELECT MAX(n) AS n_deltas,
        |         MAX(CASE WHEN rn = k95 THEN -delta END) AS v95,
        |         MAX(CASE WHEN rn = k99 THEN -delta END) AS v99,
        |         CAST(SUM(CASE WHEN rn <= k95 THEN
        |             CAST(-delta AS DECIMAL(18,4)) END) AS DOUBLE)
        |           / MAX(k95) AS es95raw
        |  FROM k)
        |SELECT n_deltas, floor(v95 * 1e2 + 5e-1) / 1e2 AS var_95,
        |       floor(v99 * 1e2 + 5e-1) / 1e2 AS var_99,
        |       floor(es95raw * 1e2 + 5e-1) / 1e2 AS es_95
        |FROM a""".stripMargin,

    "price_volume_mix" ->
      """WITH li AS (SELECT *, strftime(l_shipdate, '%Y-%m') AS m FROM lineitem),
        |bd AS (SELECT MIN(m) AS m0, MAX(m) AS m1 FROM li),
        |a AS (
        |  SELECT p_brand,
        |         SUM(CASE WHEN m = m0 THEN l_quantity ELSE 0e0 END) AS q0,
        |         SUM(CASE WHEN m = m1 THEN l_quantity ELSE 0e0 END) AS q1,
        |         CAST(SUM(CAST(CASE WHEN m = m0 THEN
        |             l_extendedprice * (1 - l_discount) ELSE 0e0 END
        |             AS DECIMAL(18,4))) AS DOUBLE) AS r0,
        |         CAST(SUM(CAST(CASE WHEN m = m1 THEN
        |             l_extendedprice * (1 - l_discount) ELSE 0e0 END
        |             AS DECIMAL(18,4))) AS DOUBLE) AS r1
        |  FROM li CROSS JOIN bd
        |  JOIN part ON l_partkey = p_partkey
        |  WHERE m = m0 OR m = m1
        |  GROUP BY p_brand),
        |fx AS (
        |  SELECT *,
        |         CASE WHEN q0 > 0e0 THEN (q1 - q0) * (r0 / q0) ELSE r1 END
        |           AS vol_raw,
        |         CASE WHEN q0 > 0e0 AND q1 > 0e0 THEN
        |           (r1 / q1 - r0 / q0) * q1 ELSE 0e0 END AS price_raw
        |  FROM a)
        |SELECT p_brand, q0, q1,
        |       floor(r0 * 1e2 + 5e-1) / 1e2 AS r0,
        |       floor(r1 * 1e2 + 5e-1) / 1e2 AS r1,
        |       floor(vol_raw * 1e2 + 5e-1) / 1e2 AS volume_effect,
        |       floor(price_raw * 1e2 + 5e-1) / 1e2 AS price_effect,
        |       floor((r1 - r0 - vol_raw - price_raw) * 1e2 + 5e-1) / 1e2
        |         AS mix_effect
        |FROM fx ORDER BY p_brand""".stripMargin
  )
}
