package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.QueryHelpers.{r6, shufflePartitions}

/** All-pairs similarity search (APSS) over WEIGHTED sparse TF-IDF
  * vectors — the Bayardo/Ma/Srikant "Scaling Up All Pairs Similarity
  * Search" (WWW 2007) shape, re-expressed as keyed DataFrame joins.
  *
  * [[graft.llm.Dedup.prefixFilterPairs]] is the SET-similarity (jaccard)
  * prefix filter; this is its weighted-cosine sibling: documents become
  * L2-normalized TF-IDF vectors over their token space, and the exact
  * pair set at cosine ≥ t is produced without ever forming all pairs.
  *
  * Prefix-filter principle (weighted form). Give terms a global total
  * order. For a doc x sorted in that order, let
  * `tail(x, i) = Σ_{j ≥ i} u_x(t_j) · maxw(t_j)` where `maxw(t)` is the
  * corpus-wide max normalized weight of t — the best dot product any
  * partner could still collect from x's suffix starting at i. Position i
  * is in x's PREFIX iff `tail(x, i) ≥ t`. For a qualifying pair (x, y),
  * let t* be the order-first shared term: if t* fell outside x's prefix,
  * every shared term would sit in x's sub-t tail, so
  * cos(x, y) ≤ tail(x, pos(t*)) < t — contradiction; symmetrically for
  * y. So every qualifying pair shares a term inside BOTH prefixes, and
  * the candidate equi-join on prefix postings has exact recall.
  *
  * That argument survives the cross-engine rounding spec because every
  * step is monotone: per-term products are rounded half-up to 6dp
  * (u·v ≤ u·maxw ⟹ round(u·v) ≤ round(u·maxw)), summed exactly in
  * DECIMAL(18,6), and cast to double (monotone) — so the verified
  * cosine can never exceed the tail bound that pruned a position, on
  * either engine.
  *
  * Scale shape: tf/df/norms are vocabulary- and doc-keyed partial
  * aggregates; the per-doc prefix scan is a window partitioned by
  * doc_id (bounded by doc length, never corpus-sized); candidates come
  * from a posting-list self-join on PREFIX terms only — the global
  * term order is frequency-ascending, so hot (frequent, low-idf) terms
  * fall out of almost every prefix and bucket sizes stay bounded;
  * verification joins are candidate-set-sized. No stage is quadratic in
  * the corpus.
  */
object AllPairs {

  private def dec(c: Column): Column = c.cast("decimal(18,6)")

  /** L2-normalized smooth-idf TF-IDF weights, one row per (doc, term):
    * `u = round6(round6(tf · (ln((1+N)/(1+df)) + 1)) / norm)` with the
    * norm an exact decimal sum of rounded squares. Output:
    * (id, token, sdf, u).
    */
  def tfidfUnitWeights(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    Dedup.requireIntegralId(df, idCol, "tfidfUnitWeights")
    val toks = df.select(col(idCol).cast("long").as("id"),
      explode(TextOps.tokens(col(textCol))).as("token"))
    val tf = toks.groupBy("id", "token").agg(count(lit(1)).as("tf"))
    // corpus size: a 1-row broadcast, same shape as bm25's stats side
    val n = broadcast(df.agg(count(lit(1)).as("n")))
    val dfc = tf.groupBy("token").agg(count(lit(1)).as("sdf"))
    val w = tf.join(dfc, "token").crossJoin(n)
      .withColumn("w", r6(col("tf").cast("double") *
        (log((lit(1L) + col("n")).cast("double") / (lit(1L) + col("sdf"))) + lit(1.0))))
    // per-doc norm as a doc-partitioned window (bounded by doc length,
    // never corpus-sized) instead of groupBy + self-join: one exchange
    // by id serves both the norm and — via the bridge checkpoint the
    // caller layers on top — the prefix-scan window downstream
    w.withColumn("nrm", sqrt(sum(dec(r6(col("w") * col("w"))))
        .over(Window.partitionBy("id")).cast("double")))
      .select(col("id"), col("token"), col("sdf"), r6(col("w") / col("nrm")).as("u"))
  }

  /** Exact all-pairs TF-IDF cosine at ≥ threshold, prefix-filtered.
    * Output: (a_id, b_id, n_shared, cos), one row per qualifying pair
    * with a_id < b_id.
    */
  def tfidfNearDupPairs(df: DataFrame, idCol: String, textCol: String,
                        threshold: Double): DataFrame = {
    // the weight table feeds FOUR plan subtrees (max-weight caps, the
    // prefix window, both verification sides); checkpoint it once
    // instead of re-running the tokenize/tf/df/norm pipeline per use.
    // The cached rows fill at the first action, but under AQE building
    // the checkpoint already runs the upstream shuffle stages as jobs.
    // Bridge checkpoint, partitioned by id and sorted (id, sdf, token):
    // the prefix-scan window below requires exactly that clustering +
    // ordering, so it runs off the checkpoint with no exchange and no
    // sort (plain localCheckpoint under AQE would surrender both — see
    // CheckpointBridge).
    val np = shufflePartitions(df.sparkSession)
    val u = org.apache.spark.sql.graftbridge.CheckpointBridge
      .partitionedCheckpoint(tfidfUnitWeights(df, idCol, textCol), np,
        Seq("id"), Seq("id", "sdf", "token"))
    // corpus-wide max normalized weight per term — the suffix bound's
    // per-term cap; term-keyed, vocabulary-sized
    val maxw = u.groupBy("token").agg(max("u").as("maxw"))
    val contrib = u.join(maxw, "token")
      .withColumn("tail", sum(dec(r6(col("u") * col("maxw")))).over(
        Window.partitionBy("id")
          .orderBy(col("sdf"), col("token"))
          .rowsBetween(Window.currentRow, Window.unboundedFollowing)))
    val prefix = contrib.filter(col("tail").cast("double") >= lit(threshold))
    // pinned-width repartitions on the two expansion joins: their INPUTS
    // are small (prefix postings, candidate ids) so AQE coalesces them
    // to one partition — and then the multi-million-row join expansion
    // runs in a single task (measured 10s+ of an 18s total at 1k docs).
    // Pinning the exchange width keeps the expansion parallel; at
    // cluster scale these joins shuffle anyway, so the hint costs
    // nothing there.
    val cand = prefix.select(col("token"), col("id").as("a_id"))
      .repartition(np, col("token"))
      .join(prefix.select(col("token"), col("id").as("b_id")), Seq("token"))
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id")
      .distinct()
      .repartition(np, col("a_id"))
    // exact verification over ALL shared terms (not just prefix ones),
    // as ONE sparse-dot merge per candidate pair: each doc's terms
    // collapse to a token-sorted struct array (doc-length-bounded), and
    // the native sparse_dot_micro kernel two-pointer-merges the pair's
    // arrays — same long-micro arithmetic as microSum, NO per-term row
    // expansion (the join-form verify blew 500k candidates into ~11.5M
    // candidate×term rows before its aggregate collapsed them; measured
    // ~2.9s of the 4.6s total at 1k docs — the kernel does the same sum
    // inside the pair row). BROADCAST both vector sides: doc-count-sized
    // (bounded by the caller's sample slice — the registered query feeds
    // EvalSampleBound), and the checkpointed frame's stats would
    // otherwise read as "huge" and force a sort-merge exchange.
    val vecs = u.groupBy("id")
      .agg(sort_array(collect_list(struct(col("token"), col("u")))).as("terms"))
    val va = broadcast(vecs.select(col("id").as("a_id"), col("terms").as("ta")))
    val vb = broadcast(vecs.select(col("id").as("b_id"), col("terms").as("tb")))
    cand.join(va, "a_id").join(vb, "b_id")
      .select(col("a_id"), col("b_id"),
        graft.functions.SparseDot.sparseDotMicro(col("ta"), col("tb")).as("sd"))
      .select(col("a_id"), col("b_id"), col("sd.n_shared").as("n_shared"),
        (col("sd.micros").cast("double") / lit(1e6)).as("cos"))
      .filter(col("cos") >= lit(threshold))
  }

  /** The per-pair cosine as an exact 6dp-micro-unit LONG sum:
    * `Σ floor(ua·ub·1e6 + 0.5)` summed as integers, divided by 1e6 at
    * the end. Numerically IDENTICAL to the decimal route
    * (`cast(sum(decimal(18,6) of round6(ua·ub)) as double)`): both
    * forms produce the correctly-rounded double of the same rational
    * Σm/10⁶ (m < 2⁵³ always — ≤1e6 per term, doc-length terms per
    * pair), and integer addition is merge-order-free exactly like the
    * decimal sum — but the long fold stays in whole-stage codegen
    * where per-row decimal allocation does not (the verify stage
    * expands to ~11.5M candidate×term rows at 1k docs; this is its hot
    * loop). The DuckDB oracle keeps the decimal spelling — the
    * cross-engine hash compare is the mechanical proof of equality.
    */
  private def microSum(ua: Column, ub: Column): Column =
    (sum(floor(ua * ub * lit(1e6) + lit(0.5)).cast("long")).cast("double") /
      lit(1e6)).as("cos")

  /** The unfiltered quadratic baseline (posting-list join over ALL
    * terms) — spec-only equivalence oracle for [[tfidfNearDupPairs]],
    * never registered.
    */
  private[graft] def bruteForceTfidfPairs(df: DataFrame, idCol: String,
                                          textCol: String,
                                          threshold: Double): DataFrame = {
    val u = tfidfUnitWeights(df, idCol, textCol)
    val ua = u.select(col("id").as("a_id"), col("token"), col("u").as("ua"))
    val ub = u.select(col("id").as("b_id"), col("token"), col("u").as("ub"))
    ua.join(ub, "token")
      .filter(col("a_id") < col("b_id"))
      .groupBy("a_id", "b_id")
      .agg(count(lit(1)).as("n_shared"), microSum(col("ua"), col("ub")))
      .filter(col("cos") >= lit(threshold))
  }
}
