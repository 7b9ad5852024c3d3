package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.operators.QueryHelpers.shufflePartitions

/** Deduplication operators for large-scale corpora.
  *
  * Scale design (the part that matters at 100 TB):
  *   - exact dedup is a single hash-aggregate on the dedup key (map-side
  *     partial aggregation applies; no sort);
  *   - near-dup never enumerates all pairs — candidates come either from
  *     LSH band buckets ([[lshCandidates]]: shuffle keyed on
  *     (band, h1, h2), pairs only within a bucket) or from a shared-shingle
  *     inverted index ([[invertedIndexPairs]]: shuffle keyed on shingle
  *     hash, with a document-frequency cap to bound hot-key blowup);
  *   - the exact-jaccard confirmation join only touches the candidate set.
  *
  * [[bruteForcePairs]] (quadratic) exists as the exactness baseline used
  * by tests and the small-SF oracle query — it broadcasts the smaller
  * projection, but do not point it at a 100 TB corpus.
  */
object Dedup {
  import TextOps._

  /** Exact dedup: one survivor per key (lowest `idCol`), plus the group
    * size. Single shuffle on the key; partial-agg friendly.
    */
  def exact(df: DataFrame, keyCols: Seq[String], idCol: String): DataFrame =
    df.groupBy(keyCols.map(col): _*)
      .agg(min(idCol).as(idCol), count(lit(1)).as("dup_count"))

  /** JVM tokens under the same rule as [[TextOps.tokens]]: trim of
    * spaces, Java `\s+` split (the same regex Spark's `split` uses),
    * empties dropped.
    */
  private def jvmTokens(text: String): Array[String] =
    text.dropWhile(_ == ' ').reverse.dropWhile(_ == ' ').reverse
      .split("\\s+").filter(_.nonEmpty)

  /** Char-polynomial hash identical to [[TextOps.tokenHash]]:
    * fold (acc*131 + char) % HashP, continuing from `seed` (so a bigram
    * "a b" hashes as hash(a) → fold ' ' → fold b). ASCII-equivalent to
    * `ascii()` per char; documents are ASCII.
    */
  private def jvmTokenHash(tok: String, seed: Long = 0L): Long = {
    var h = seed
    var j = 0
    while (j < tok.length) { h = (h * 131 + tok.charAt(j)) % TextOps.HashP; j += 1 }
    h
  }

  /** Block id from a splitmix64-style finalizer: sign-safe (a bare
    * id % nBlocks drops every pair involving a negative id) and immune
    * to id strides (all-even ids would halve the effective block count
    * under any multiplicative-only mix).
    */
  private[llm] def blockOf(id: Long, nBlocks: Int): Int = {
    var h = id
    h ^= h >>> 33; h *= 0xff51afd7ed558ccdL
    h ^= h >>> 33; h *= 0xc4ceb9fe1a85ec53L
    h ^= h >>> 33
    java.lang.Math.floorMod(h, nBlocks.toLong).toInt
  }

  /** Plan-time fail-fast for id columns about to be `cast("long")`: a
    * non-integral id (string, decimal, …) would cast to null and silently
    * drop every pair — the silent-corruption trap [[Similarity]] guards
    * its LSH path against; every dedup entry point applies the same
    * discipline through this helper.
    */
  private[llm] def requireIntegralId(df: DataFrame, idCol: String,
                                     caller: String): Unit =
    df.schema(idCol).dataType match {
      case org.apache.spark.sql.types.ByteType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.LongType => ()
      case other => throw new IllegalArgumentException(
        s"$caller: id column '$idCol' must be an integral type " +
          s"(byte/short/int/long), got $other — a lossy cast would drop " +
          "pairs silently")
    }

  /** Typed fast path: per-doc distinct bigram-shingle hash sets computed
    * in a tight JVM loop. Arithmetic is IDENTICAL to the declarative
    * [[TextOps.shingleHashes]] (verified by spec).
    */
  private[llm] def shingleHashSets(df: DataFrame, idCol: String,
                                   textCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    requireIntegralId(df, idCol, "shingleHashSets")
    // widen ONLY under-partitioned inputs (a 2-file local corpus must
    // not serialize the shingle loop onto 2 cores); an unconditional
    // repartition would full-shuffle a corpus that already has plenty
    // of partitions — pure waste at scale. getNumPartitions is a plan
    // inspection, not a job.
    val target = spark.sparkContext.defaultParallelism
    val widened = if (df.rdd.getNumPartitions < target) df.repartition(target) else df
    widened
      .select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        val toks = jvmTokens(text)
        val seen = new java.util.LinkedHashSet[Long]()
        var i = 0
        while (i < toks.length - 1) {
          val h = jvmTokenHash(toks(i + 1),
            seed = (jvmTokenHash(toks(i)) * 131 + ' ') % TextOps.HashP)
          seen.add(h)
          i += 1
        }
        (id, seen.toArray(Array.empty[java.lang.Long]).map(_.longValue))
      })
      .toDF(idCol, "sh")
  }

  /** Per-doc LSH signature computed JVM-side from raw text: (sorted
    * distinct bigram-shingle hashes, minhash values) — the single-doc
    * form of [[shingleHashSets]] + the minhash loop in [[lshNearDups]],
    * with identical arithmetic (spec-pinned). Used by the streaming
    * near-dup gate, where signatures are computed per arriving doc
    * rather than per corpus scan. Empty-token docs return empty arrays
    * (the caller decides the skip rule, mirroring lshNearDups).
    */
  private[graft] def docSignature(text: String): (Array[Long], Array[Long]) = {
    val toks = jvmTokens(text)
    val seen = new java.util.LinkedHashSet[Long]()
    var i = 0
    while (i < toks.length - 1) {
      seen.add(jvmTokenHash(toks(i + 1),
        seed = (jvmTokenHash(toks(i)) * 131 + ' ') % TextOps.HashP))
      i += 1
    }
    val sh = seen.toArray(Array.empty[java.lang.Long]).map(_.longValue)
    java.util.Arrays.sort(sh)
    if (sh.isEmpty) (sh, Array.empty[Long])
    else {
      val mh = MinhashParams.toArray.map { case (a, b) =>
        var m = Long.MaxValue
        var j = 0
        while (j < sh.length) {
          val v = (sh(j) * a + b) % TextOps.MinhashP
          if (v < m) m = v
          j += 1
        }
        m
      }
      (sh, mh)
    }
  }

  /** Per-document MinHash signature frame:
    * (id, sh = distinct shingle hashes, mh0..mh7).
    *
    * r13 (guide §4 "prefer codegen"): sh AND the minhash values come out
    * of ONE typed pass — the declarative form computed each mh as
    * `array_min(transform(sh, …))`, eight interpreted HOF evaluations
    * per row (ArrayTransform is CodegenFallback), each allocating a
    * fresh array the size of the shingle set. Arithmetic is identical
    * ((x*a+b) % MinhashP, min over the set — order-free) and sh keeps
    * shingleHashSets' first-seen order; empty-shingle docs keep NULL
    * minhashes exactly like array_min over an empty transform.
    * DedupSpec pins this frame against the declarative expression form.
    */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    requireIntegralId(df, idCol, "minhashSignatures")
    val target = spark.sparkContext.defaultParallelism
    val widened = if (df.rdd.getNumPartitions < target) df.repartition(target) else df
    val params = MinhashParams.toArray
    widened
      .select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        val toks = jvmTokens(text)
        val seen = new java.util.LinkedHashSet[Long]()
        var i = 0
        while (i < toks.length - 1) {
          seen.add(jvmTokenHash(toks(i + 1),
            seed = (jvmTokenHash(toks(i)) * 131 + ' ') % TextOps.HashP))
          i += 1
        }
        val sh = seen.toArray(Array.empty[java.lang.Long]).map(_.longValue)
        val mh: Array[java.lang.Long] =
          if (sh.isEmpty) Array.fill[java.lang.Long](params.length)(null)
          else params.map { case (a, b) =>
            var m = Long.MaxValue
            var j = 0
            while (j < sh.length) {
              val v = (sh(j) * a + b) % TextOps.MinhashP
              if (v < m) m = v
              j += 1
            }
            java.lang.Long.valueOf(m)
          }
        (id, sh, mh)
      })
      .toDF(idCol, "sh", "mhs")
      .select(col(idCol) +: col("sh") +:
        params.indices.map(i => col("mhs").getItem(i).as(s"mh$i")): _*)
  }

  /** LSH candidate pairs: signature rows are chunked into bands of
    * [[TextOps.BandRows]] hashes; docs agreeing on ALL hashes of any band
    * land in the same bucket; pairs are emitted only within buckets.
    * One explode (rows × nBands) + one shuffle on (band, h0, h1) — never
    * quadratic in the corpus.
    */
  def lshCandidates(sigs: DataFrame, idCol: String): DataFrame =
    lshCandidatesAt(sigs, idCol, BandRows)

  /** [[lshCandidates]] at an explicit rows-per-band setting — the
    * banding knob of the S-curve p(match) = 1 − (1 − j^r)^b. Smaller
    * `bandRows` moves the curve left (recall↑, candidates↑); the
    * tuning sweep (`lsh_tuning_curve`) measures exactly that trade.
    * `bandRows` must divide the signature length; the signature table
    * is reused across sweep points, only the bucketing re-runs.
    */
  def lshCandidatesAt(sigs: DataFrame, idCol: String, bandRows: Int): DataFrame = {
    require(bandRows > 0 && MinhashParams.size % bandRows == 0,
      s"bandRows $bandRows must divide the signature length ${MinhashParams.size}")
    val nBands = MinhashParams.size / bandRows
    val bandStructs = array((0 until nBands).map { b =>
      struct((lit(b).as("band") +:
        (0 until bandRows).map(r => col(s"mh${b * bandRows + r}").as(s"h$r"))): _*)
    }: _*)
    val keyCols = "band" +: (0 until bandRows).map(r => s"h$r")
    val bands = sigs
      .select(col(idCol), explode(bandStructs).as("bk"))
      .select(col(idCol) +: keyCols.map(k => col(s"bk.$k")): _*)
    val a = bands.select(keyCols.map(col) :+ col(idCol).as("a_id"): _*)
    val b = bands.select(keyCols.map(col) :+ col(idCol).as("b_id"): _*)
    a.join(b, keyCols)
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id")
      .distinct()
  }

  /** Every sweep point of [[lshCandidatesAt]] in ONE pass: the per-r
    * band keys are unioned into a single explode (tagged with
    * `band_rows`, which joins/aggregates then key on), so the whole
    * tuning sweep pays one bucket self-join and one pair-dedup instead
    * of one per setting (guide §2.4 — operations keyed the same way
    * share one exchange). Per-r semantics are IDENTICAL to running
    * [[lshCandidatesAt]] at each setting: `band_rows` is part of every
    * join/grouping key, so buckets of different settings never meet;
    * short band keys are padded with -1 (hash values are non-negative,
    * and pads only ever compare within one `band_rows`); null minhashes
    * (zero-shingle docs) stay null and drop out of the equi-join exactly
    * as in the per-setting form. Output: (band_rows, a_id, b_id),
    * distinct per setting.
    */
  def lshCandidatesMulti(sigs: DataFrame, idCol: String,
                         bandRowsSet: Seq[Int]): DataFrame = {
    bandRowsSet.foreach(r => require(r > 0 && MinhashParams.size % r == 0,
      s"bandRows $r must divide the signature length ${MinhashParams.size}"))
    val maxR = bandRowsSet.max
    val combos = for {
      r <- bandRowsSet
      b <- 0 until MinhashParams.size / r
    } yield (r, b)
    val bandStructs = array(combos.map { case (r, b) =>
      struct((lit(r.toLong).as("band_rows") +: lit(b).as("band") +:
        (0 until maxR).map(i =>
          (if (i < r) col(s"mh${b * r + i}") else lit(-1L)).as(s"k$i"))): _*)
    }: _*)
    val keyCols = Seq("band_rows", "band") ++ (0 until maxR).map(i => s"k$i")
    val bands = sigs
      .select(col(idCol), explode(bandStructs).as("bk"))
      .select(col(idCol) +: keyCols.map(k => col(s"bk.$k").as(k)): _*)
    val a = bands.select(keyCols.map(col) :+ col(idCol).as("a_id"): _*)
    val b = bands.select(keyCols.map(col) :+ col(idCol).as("b_id"): _*)
    a.join(b, keyCols)
      .filter(col("a_id") < col("b_id"))
      .select("band_rows", "a_id", "b_id")
      .distinct()
  }

  /** Exact jaccard over the shingle-hash sets of the given candidate
    * pairs. `sigs` must carry (idCol, sh). Joins are keyed on ids —
    * candidate-set sized, not corpus², and broadcastable when the
    * candidate set is small.
    */
  def confirmJaccard(candidates: DataFrame, sigs: DataFrame, idCol: String,
                     threshold: Double): DataFrame = {
    val spark = candidates.sparkSession
    import spark.implicits._
    val sa = sigs.select(col(idCol).as("a_id"), col("sh").as("sh_a"))
    val sb = sigs.select(col(idCol).as("b_id"), col("sh").as("sh_b"))
    // jaccard in a typed sorted-merge loop (same integers as the
    // interpreted array_intersect/array_union form, ~an order of
    // magnitude faster per pair)
    candidates
      .join(sa, "a_id").join(sb, "b_id")
      .select(col("a_id"), col("b_id"), col("sh_a"), col("sh_b"))
      .as[(Long, Long, Seq[Long], Seq[Long])]
      .mapPartitions(_.flatMap { case (a, b, shA, shB) =>
        val x = shA.toArray; java.util.Arrays.sort(x)
        val y = shB.toArray; java.util.Arrays.sort(y)
        val inter = sortedIntersectCount(x, y)
        val j = inter.toDouble / (x.length + y.length - inter)
        if (j >= threshold) Some((a, b, j)) else None
      })
      .toDF("a_id", "b_id", "jaccard")
  }

  /** Full MinHash-LSH near-dup pipeline in ONE distributed pass over the
    * corpus: the typed signature loop emits each doc's (band, h0, h1)
    * bucket keys together with its sorted shingle set, docs agreeing on
    * a band land in the same group, and candidate pairs are confirmed by
    * exact sorted-merge jaccard inside the group — no second scan of the
    * corpus and no id-keyed confirm joins. A pair agreeing on several
    * bands is confirmed in each; the final distinct collapses the
    * duplicates (identical triples by exactness). Semantics are
    * unchanged from the join form: candidates = pairs sharing at least
    * one full band, confirmed at exact jaccard ≥ threshold, with the
    * same integer hash family any engine can reproduce.
    */
  def lshNearDups(df: DataFrame, idCol: String, textCol: String,
                  threshold: Double): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val nBands = MinhashParams.size / BandRows
    val params = MinhashParams.toArray
    shingleHashSets(df, idCol, textCol)
      .as[(Long, Seq[Long])]
      .flatMap { case (id, shSeq) =>
        // zero-shingle docs have null minhashes in the declarative form
        // (equi-join keys never match) and can't reach jaccard ≥ t > 0
        if (shSeq.isEmpty) Iterator.empty
        else {
          val sh = shSeq.toArray
          java.util.Arrays.sort(sh)
          val mh = params.map { case (a, b) =>
            var m = Long.MaxValue
            var i = 0
            while (i < sh.length) {
              val v = (sh(i) * a + b) % TextOps.MinhashP
              if (v < m) m = v
              i += 1
            }
            m
          }
          (0 until nBands).iterator.map { bnd =>
            ((bnd, mh(bnd * BandRows), mh(bnd * BandRows + 1)), id, sh)
          }
        }
      }
      .groupByKey(_._1)
      .flatMapGroups { (_, it: Iterator[((Int, Long, Long), Long, Array[Long])]) =>
        val docs = it.map(t => (t._2, t._3)).toArray
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
        var i = 0
        while (i < docs.length) {
          var j = i + 1
          while (j < docs.length) {
            val (idA, shA) = docs(i)
            val (idB, shB) = docs(j)
            if (idA != idB) {
              val inter = sortedIntersectCount(shA, shB)
              val jac = inter.toDouble / (shA.length + shB.length - inter)
              if (jac >= threshold) {
                out += (if (idA < idB) (idA, idB, jac) else (idB, idA, jac))
              }
            }
            j += 1
          }
          i += 1
        }
        out.iterator
      }
      .toDF("a_id", "b_id", "jaccard")
      .distinct()
  }

  /** Prefix-filtering candidate pairs (AllPairs/PPJoin-style) — the
    * EXACT-recall distributed candidate generator for jaccard ≥ t.
    *
    * Shingles get a global total order (document frequency asc, hash asc);
    * each document emits postings only for its prefix — the first
    * `|s| − o + 1` shingles in that order, where `o` is the minimum
    * overlap a qualifying partner must have with this document. Any pair
    * with jaccard ≥ t has overlap ≥ o on each side, so the order-smallest
    * common shingle has at least o−1 common shingles after it in BOTH
    * documents and therefore sits inside both prefixes — the equi-join on
    * prefix shingles cannot miss a qualifying pair. Unlike a df-cap
    * inverted index this loses no recall, and the frequency-ascending
    * order keeps hot shingles out of almost every prefix, so bucket
    * sizes stay bounded.
    *
    * `o` must be derived under the SAME IEEE-double semantics the
    * confirmation step uses (`inter/union ≥ t`), not via
    * `ceil(t · |s|)` in double arithmetic: 0.07 × 100 evaluates to
    * 7.000000000000001, whose ceil (8) shortens the prefix by one and
    * silently drops qualifying pairs whose only shared shingle sits in
    * that last slot. Instead each rank rn stays in the prefix iff an
    * overlap of m = |s| − rn + 1 could still pass confirmation at the
    * tightest union (= |s|): `m / |s| ≥ t` as doubles. k ↦ fl(k/|s|) is
    * monotone, and confirmation passing (fl(inter/union) ≥ t with
    * union ≥ |s|) forces fl(inter/|s|) ≥ t, so this is exactly the
    * minimal prefix with full recall w.r.t. [[confirmJaccard]] /
    * [[bruteForcePairs]] double semantics.
    *
    * Shuffles: explode + df-count on shingle, one window on the doc id,
    * self-equi-join on prefix shingle — all keyed, never all-pairs.
    * `sets` must carry (idCol, sh) as produced by [[shingleHashSets]].
    */
  def prefixFilterPairs(sets: DataFrame, idCol: String,
                        threshold: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val posting = sets
      .select(col(idCol), size(col("sh")).as("sz"), explode(col("sh")).as("shingle"))
    val dfCounts = posting.groupBy("shingle").agg(count(lit(1)).as("sdf"))
    val prefix = posting.join(dfCounts, "shingle")
      .withColumn("rn", row_number().over(
        Window.partitionBy(idCol).orderBy(col("sdf"), col("shingle"))))
      .filter((col("sz") - col("rn") + 1) / col("sz") >= lit(threshold))
      // pinned-width exchange on the join key: the prefix posting table
      // is small enough for AQE to coalesce to one partition, which
      // serializes the candidate-pair expansion below into a single
      // task (the allpairs_tfidf lesson); pinning keeps the expansion
      // parallel and both join sides reuse this one exchange
      .repartition(shufflePartitions(sets.sparkSession), col("shingle"))
    val a = prefix.select(col("shingle"), col(idCol).as("a_id"))
    val b = prefix.select(col("shingle"), col(idCol).as("b_id"))
    a.join(b, "shingle")
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id")
      .distinct()
  }

  /** All pairs with jaccard ≥ threshold via prefix-filtering candidates +
    * exact-jaccard confirmation: row-identical to [[bruteForcePairs]] by
    * the exact-recall guarantee of [[prefixFilterPairs]], with no driver
    * collect and no quadratic stage — the registered scale path.
    */
  def prefixNearDups(df: DataFrame, idCol: String, textCol: String,
                     threshold: Double): DataFrame = {
    // r13: the typed shingle pass feeds FOUR consumers (df-count, the
    // prefix probe, both confirm sides) — checkpoint it once instead of
    // re-tokenizing the corpus per consumer (guide §5)
    val sets = shingleHashSets(df, idCol, textCol).localCheckpoint(false)
    confirmJaccard(prefixFilterPairs(sets, idCol, threshold), sets, idCol, threshold)
  }

  /** Sorted-neighborhood near-dup blocking (the Hernández–Stolfo SNM
    * method, the classic record-linkage alternative to LSH): sort the
    * corpus by a normalized key, compare each doc only with the next
    * `window − 1` docs in sort order, confirm candidates at exact
    * jaccard ≥ threshold. Recall is by construction limited to pairs
    * whose normalized texts sort near each other — the standard SNM
    * trade: O(n·window) candidates for near-dups that agree on their
    * leading content (edits later in the doc), zero for pairs that
    * diverge at token one (LSH's territory).
    *
    * Scale shape: the sort key's first `blockChars` chars are the
    * partition key, so the row_number window is per-block, never
    * global (no single-partition WindowExec); the neighbor join is a
    * pure equi-join on (block, position) — each doc EXPLODES to its
    * `window − 1` forward positions rather than equi-joining on the
    * block alone, so a hot block of B docs costs B·window join rows,
    * not B². Pairs straddling a block boundary are missed; that is the
    * documented blocking trade (run multiple passes with different
    * keys when recall matters — same practice as multi-key SNM).
    */
  def sortedNeighborhoodDups(df: DataFrame, idCol: String, textCol: String,
                             window: Int = 8, blockChars: Int = 8,
                             threshold: Double): DataFrame =
    confirmJaccard(
      sortedNeighborhoodCandidates(df, idCol, textCol, window, blockChars),
      shingleHashSets(df, idCol, textCol), idCol, threshold)

  /** The SNM candidate generator alone: (a_id, b_id) pairs within
    * `window` sort positions inside an equal `blockChars`-char
    * normalized-prefix block. Shared by [[sortedNeighborhoodDups]]
    * (jaccard confirm) and the edit-distance confirm path.
    */
  def sortedNeighborhoodCandidates(df: DataFrame, idCol: String,
                                   textCol: String, window: Int,
                                   blockChars: Int): DataFrame = {
    import org.apache.spark.sql.expressions.{Window => W}
    requireIntegralId(df, idCol, "sortedNeighborhoodCandidates")
    val keyed = df
      .select(col(idCol).cast("long").as("id"),
        regexp_replace(lower(trim(col(textCol))), "\\s+", " ").as("skey"))
      .withColumn("blk", substring(col("skey"), 1, blockChars))
    val rn = keyed.withColumn("rn",
      row_number().over(W.partitionBy("blk").orderBy("skey", "id")))
    // forward-position explode: candidate (a at rn, b at rn+i), i < window
    val fwd = rn.select(col("blk"), col("id").as("l_id"),
      explode(sequence(col("rn") + 1, col("rn") + (window - 1))).as("rn"))
    fwd
      .join(rn.select(col("blk"), col("rn"), col("id").as("r_id")),
        Seq("blk", "rn"))
      .select(least(col("l_id"), col("r_id")).as("a_id"),
        greatest(col("l_id"), col("r_id")).as("b_id"))
  }

  /** All pairs with jaccard ≥ threshold via a distributed block self-join —
    * the registered exact path. Exact all-pairs similarity is inherently
    * O(n²) COMPUTE; what must never be O(n²) is memory or a driver
    * round-trip. Each doc's sorted shingle array is shuffled into every
    * block pair containing its block (`O(n·nBlocks)` rows — not n²), and
    * each of the `nBlocks·(nBlocks+1)/2` groups runs the pairwise
    * sorted-merge jaccard in a tight JVM loop over its two bounded
    * (~n/nBlocks-doc) sides. Size nBlocks to the cluster, not the data.
    *
    * Row-identical to [[bruteForcePairs]] (same integers → same doubles),
    * with no collect/broadcast of the corpus. [[prefixNearDups]] is the
    * sub-quadratic exact path when the shingle vocabulary grows with the
    * corpus (real text); on a fixed small vocabulary its prefix index
    * degenerates to ~all-pairs with per-candidate join overhead, which is
    * exactly when this block form wins. For approximate semantics use
    * [[lshNearDups]].
    */
  /** Per-doc shingle-hash sets as SORTED arrays — the precondition of the
    * sorted-merge intersect loop, shared by the self-join and bipartite
    * block paths.
    */
  private def sortedShingleSets(df: DataFrame, idCol: String, textCol: String):
      org.apache.spark.sql.Dataset[(Long, Array[Long])] = {
    val spark = df.sparkSession
    import spark.implicits._
    shingleHashSets(df, idCol, textCol)
      .as[(Long, Seq[Long])]
      .map { case (id, sh) =>
        val a = sh.toArray; java.util.Arrays.sort(a); (id, a)
      }
  }

  def blockNearDups(df: DataFrame, idCol: String, textCol: String,
                    threshold: Double, nBlocks: Int = 32): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val sets = sortedShingleSets(df, idCol, textCol)
    val expanded = sets.flatMap { case (id, sh) =>
      val b = blockOf(id, nBlocks)
      // same-block pairs arrive on side 0 only (handled with an i<j loop)
      val asLeft = (b until nBlocks).iterator.map(j => (b * nBlocks + j, 0, id, sh))
      val asRight = (0 until b).iterator.map(i => (i * nBlocks + b, 1, id, sh))
      asLeft ++ asRight
    }
    expanded.groupByKey(_._1).flatMapGroups { (pid: Int, it: Iterator[(Int, Int, Long, Array[Long])]) =>
      val sameBlock = pid / nBlocks == pid % nBlocks
      val left = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Long])]
      val right = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Long])]
      it.foreach { case (_, side, id, sh) =>
        (if (side == 0) left else right) += ((id, sh))
      }
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
      def eval(aId: Long, aSh: Array[Long], bId: Long, bSh: Array[Long]): Unit = {
        val inter = sortedIntersectCount(aSh, bSh)
        val j = inter.toDouble / (aSh.length + bSh.length - inter)
        if (j >= threshold) {
          out += (if (aId < bId) (aId, bId, j) else (bId, aId, j))
        }
      }
      if (sameBlock) {
        var i = 0
        while (i < left.length) {
          var j = i + 1
          while (j < left.length) {
            eval(left(i)._1, left(i)._2, left(j)._1, left(j)._2); j += 1
          }
          i += 1
        }
      } else {
        var i = 0
        while (i < left.length) {
          var j = 0
          while (j < right.length) {
            eval(left(i)._1, left(i)._2, right(j)._1, right(j)._2); j += 1
          }
          i += 1
        }
      }
      out.iterator
    }.toDF("a_id", "b_id", "jaccard")
  }

  /** Bipartite near-dup retrieval: every (batch_id, corpus_id, jaccard)
    * pair at or above `threshold` between a NEW batch and an EXISTING
    * corpus — the incremental-ingestion dedup question ("is this crawl
    * document already in the training set"). Never compares batch-batch
    * or corpus-corpus. The corpus is partitioned by block hash and each
    * row shuffled ONCE; the (typically much smaller) batch is replicated
    * to every block — shuffle volume O(corpus + batch·nBlocks), per-task
    * state one corpus block + the batch rows. Exact batch×corpus
    * semantics, distributed the way [[blockNearDups]] distributes the
    * self-join; arithmetic identical (sorted-merge intersect, jaccard in
    * double).
    */
  def crossNearDups(batch: DataFrame, corpus: DataFrame, idCol: String,
                    textCol: String, threshold: Double,
                    nBlocks: Int = 32): DataFrame = {
    val spark = batch.sparkSession
    import spark.implicits._
    val corpusSide = sortedShingleSets(corpus, idCol, textCol)
      .map { case (id, sh) => (blockOf(id, nBlocks), 0, id, sh) }
    val batchSide = sortedShingleSets(batch, idCol, textCol)
      .flatMap { case (id, sh) =>
        (0 until nBlocks).iterator.map(bk => (bk, 1, id, sh))
      }
    corpusSide.union(batchSide)
      .groupByKey(_._1)
      .flatMapGroups { (_: Int, it: Iterator[(Int, Int, Long, Array[Long])]) =>
        val cRows = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Long])]
        val bRows = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Long])]
        it.foreach { case (_, side, id, sh) =>
          (if (side == 0) cRows else bRows) += ((id, sh))
        }
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
        var i = 0
        while (i < bRows.length) {
          val (bId, bSh) = bRows(i)
          var j = 0
          while (j < cRows.length) {
            val (cId, cSh) = cRows(j)
            val inter = sortedIntersectCount(bSh, cSh)
            val jac = inter.toDouble / (bSh.length + cSh.length - inter)
            if (jac >= threshold) out += ((bId, cId, jac))
            j += 1
          }
          i += 1
        }
        out.iterator
      }.toDF("b_id", "c_id", "jaccard")
  }

  /** Inverted-index candidate pairs: explode (id, shingle hash), drop
    * shingles with document frequency above `dfCap` (hot shingles carry
    * no dedup signal and explode quadratically), self-join on the shingle.
    * The standard exact-recall candidate generator when shingle space
    * grows with the corpus.
    */
  def invertedIndexPairs(df: DataFrame, idCol: String, textCol: String,
                         dfCap: Int): DataFrame = {
    val posting = df
      .select(col(idCol), explode(shingleHashes(col(textCol))).as("shingle"))
    val kept = posting
      .withColumn("df", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("shingle")))
      .filter(col("df") <= dfCap)
      .drop("df")
    val a = kept.select(col("shingle"), col(idCol).as("a_id"))
    val b = kept.select(col("shingle"), col(idCol).as("b_id"))
    a.join(b, "shingle")
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id")
      .distinct()
  }

  /** Asymmetric containment near-dup: |A∩B| / |A| (and / |B|) over the
    * distinct shingle sets — catches SUBSET duplication (one doc embedded
    * inside another), which jaccard structurally under-scores: a 100-word
    * doc fully contained in a 10 000-word doc has jaccard ≈ 0.01 but
    * containment 1.0, so every jaccard-thresholded path (LSH, prefix,
    * SNM) is blind to it. Candidates are [[invertedIndexPairs]]'
    * df-capped posting join — pairs sharing ≥1 shingle with document
    * frequency ≤ dfCap: recall is exact for any pair whose
    * overlap contains at least one sub-hot shingle (a pair ALL of whose
    * shared shingles are corpus-hot carries boilerplate overlap, not
    * containment signal — the documented trade). A pair survives when
    * max(containment_a, containment_b) ≥ threshold.
    *
    * The posting list is derived from the CHECKPOINTED per-doc sets
    * (identical multiset: the interpreted shingle column is
    * array_distinct, the typed sets are LinkedHashSet-distinct) rather
    * than by calling [[invertedIndexPairs]] on the raw corpus — one
    * shingle pass feeds the posting explode and both confirm sides,
    * instead of three passes over the tokenize+hash chain.
    */
  def containmentDups(df: DataFrame, idCol: String, textCol: String,
                      dfCap: Int, threshold: Double): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val sets = shingleHashSets(df, idCol, textCol).localCheckpoint(false)
    val sa = sets.select(col(idCol).as("a_id"), col("sh").as("sh_a"))
    val sb = sets.select(col(idCol).as("b_id"), col("sh").as("sh_b"))
    val kept = sets
      .select(col(idCol), explode(col("sh")).as("shingle"))
      .withColumn("df", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("shingle")))
      .filter(col("df") <= dfCap)
      .drop("df")
    kept.select(col("shingle"), col(idCol).as("a_id"))
      .join(kept.select(col("shingle"), col(idCol).as("b_id")), "shingle")
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id")
      .distinct()
      .join(sa, "a_id").join(sb, "b_id")
      .select(col("a_id"), col("b_id"), col("sh_a"), col("sh_b"))
      .as[(Long, Long, Seq[Long], Seq[Long])]
      .mapPartitions(_.flatMap { case (a, b, shA, shB) =>
        val x = shA.toArray; java.util.Arrays.sort(x)
        val y = shB.toArray; java.util.Arrays.sort(y)
        val inter = sortedIntersectCount(x, y)
        val cA = inter.toDouble / x.length
        val cB = inter.toDouble / y.length
        if (math.max(cA, cB) >= threshold) Some((a, b, cA, cB)) else None
      })
      .toDF("a_id", "b_id", "containment_a", "containment_b")
  }

  /** All-pairs jaccard ≥ threshold — exactness baseline for tests and
    * small-SF oracles ONLY (quadratic: collects + broadcasts the shingle
    * sets, so the corpus must fit on the driver; the scale path is
    * [[lshNearDups]]). Pairwise work runs in a tight sorted-merge loop
    * per partition rather than interpreted array-intersect expressions.
    * jaccard = |A∩B| / (|A|+|B|−|A∩B|) over distinct sets — identical
    * integers, hence identical doubles, to the oracle's
    * list_intersect/list_distinct(list_concat) form.
    */
  def bruteForcePairs(df: DataFrame, idCol: String, textCol: String,
                      threshold: Double): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val sh = shingleHashSets(df, idCol, textCol)
      .as[(Long, Seq[Long])]
    val all = sh.collect().map { case (id, s) => (id, s.sorted.toArray) }
      .sortBy(_._1)
    val bc = spark.sparkContext.broadcast(all)
    sh.flatMap { case (aId, aSeq) =>
      val aSh = aSeq.sorted.toArray
      bc.value.iterator
        .filter(_._1 > aId)
        .flatMap { case (bId, bSh) =>
          val inter = sortedIntersectCount(aSh, bSh)
          val j = inter.toDouble / (aSh.length + bSh.length - inter)
          if (j >= threshold) Some((aId, bId, j)) else None
        }
    }.toDF("a_id", "b_id", "jaccard")
  }

  /** Per-document rolling-hash fingerprints (id, fp) — typed tight-loop
    * fast path, arithmetic identical to [[TextOps.fingerprint]]
    * (spec-verified): the interpreted form evaluates the token-hash list
    * expression several times per row (guard, fold seed, fold body —
    * ~2 ms/doc); the loop hashes each token once and folds in place.
    * Zero-token documents fingerprint to null, like the guarded
    * declarative form.
    */
  def fingerprints(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        val toks = jvmTokens(text)
        if (toks.isEmpty) (id, None: Option[Long])
        else {
          var acc = jvmTokenHash(toks(0))
          var t = 1
          while (t < toks.length) {
            acc = (acc * 31 + jvmTokenHash(toks(t))) % TextOps.HashP
            t += 1
          }
          (id, Some(acc))
        }
      })
      .toDF(idCol, "fp")
  }

  /** Connected components of an undirected edge list (a_id, b_id) via
    * iterative min-label propagation — the transitive closure step that
    * turns pairwise near-dup hits into dedup CLUSTERS (greedy pair
    * removal under-merges chains: a~b, b~c puts a,c in one cluster only
    * transitively). Pregel-style: each vertex starts labeled with its own
    * id and each round (1) takes the min label over itself and its
    * neighbors, then (2) pointer-doubles: comp ← label(comp), halving
    * the label's distance to the component minimum. Propagation alone
    * converges in O(cluster diameter) rounds — fine for dense near-dup
    * clusters, but a chain-shaped component of diameter d needs d
    * rounds; the shortcut step makes the reach grow geometrically, so
    * convergence is O(log d) rounds on ANY component shape (a
    * 10⁹-vertex path needs ~30 rounds, well inside the default bound).
    * Each round is two distributed joins + an aggregate; the driver
    * holds only the loop counter and a convergence count, and
    * `localCheckpoint` cuts the growing lineage so round N's plan does
    * not replay rounds 1..N-1. Labels only ever take id values from the
    * same component (edges connect within components; a label's label
    * shares its component), and they decrease monotonically, so the
    * fixpoint labels every vertex with its component's min id. Returns
    * (id, comp = min id of the component) for every endpoint.
    */
  def connectedComponents(edges: DataFrame, maxIter: Int = 50): DataFrame = {
    // the edge list joins against labels EVERY round — materialize it
    // once (upstream may be an expensive near-dup computation) instead
    // of replaying its plan per iteration
    val sym0 = edges.select(col("a_id").cast("long").as("src"), col("b_id").cast("long").as("dst"))
      .unionByName(edges.select(col("b_id").cast("long").as("src"), col("a_id").cast("long").as("dst")))
    // checkpoint partitioned AND sorted by the per-round join key via
    // the bridge — a plain localCheckpoint under AQE snapshots
    // UnknownPartitioning (see CheckpointBridge), so the loop was
    // silently re-exchanging and re-sorting the edge list every round;
    // with the declared layout only the label table moves per round
    val sym = org.apache.spark.sql.graftbridge.CheckpointBridge
      .partitionedCheckpoint(sym0, shufflePartitions(edges.sparkSession),
        Seq("dst"), Seq("dst"), declareStats = false)
    var labels = sym.select(col("src").as("id")).distinct()
      .withColumn("comp", col("id"))
      .localCheckpoint()
    var changed = 1L
    var i = 0
    while (changed > 0 && i < maxIter) {
      val msgs = sym.join(labels.withColumnRenamed("id", "dst"), "dst")
        .select(col("src").as("id"), col("comp"))
      // materialized ONCE but lazily (r13): the shortcut self-joins prop
      // against itself, and both consumers sit inside `next`'s eager
      // checkpoint job — a lazy checkpoint still computes the aggregate
      // exactly once there, while the old EAGER checkpoint paid a whole
      // extra scheduler round-trip per CC round just to materialize it
      val prop = labels.unionByName(msgs)
        .groupBy("id").agg(min("comp").as("comp"))
        .localCheckpoint(false)
      // pointer doubling: every label is itself a vertex id (min over
      // ids), so look up the label's own label and jump to it. left
      // join + coalesce is belt-and-braces (every comp DOES appear as
      // an id in prop); least() is pure defensiveness — prop[c] ≤ c by
      // the monotone-decrease invariant.
      val next = prop
        .join(prop.select(col("id").as("comp"), col("comp").as("comp2")), Seq("comp"), "left")
        .select(col("id"), least(coalesce(col("comp2"), col("comp")), col("comp")).as("comp"))
        .localCheckpoint()
      changed = next.join(labels.withColumnRenamed("comp", "prev"), "id")
        .filter(col("comp") =!= col("prev")).count()
      labels = next
      i += 1
    }
    require(changed == 0,
      s"connectedComponents did not converge in $maxIter rounds " +
        s"(pointer doubling needs ~log2(max component size) rounds; raise maxIter)")
    labels
  }

  /** Count of common elements of two sorted distinct arrays (merge scan). */
  private[graft] def sortedIntersectCount(a: Array[Long], b: Array[Long]): Int = {
    var i = 0; var j = 0; var n = 0
    while (i < a.length && j < b.length) {
      if (a(i) == b(j)) { n += 1; i += 1; j += 1 }
      else if (a(i) < b(j)) i += 1
      else j += 1
    }
    n
  }

  /** Per-document 16-bit SimHash frame (id, simhash). Near-dups are docs
    * at small Hamming distance; with 16 bits the bucket key is the hash
    * itself plus single-bit probes.
    *
    * Typed tight-loop fast path, arithmetic IDENTICAL to the declarative
    * [[TextOps.simhash16]] (spec-verified): the interpreted form runs 16
    * separate HOF folds per row, each re-evaluating the token-hash list
    * (~4 ms/doc — it dominated every simhash query); the loop hashes
    * each token once and accumulates all 16 bit votes in one pass.
    */
  def simhashes(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        val toks = jvmTokens(text)
        val votes = new Array[Long](16)
        var t = 0
        while (t < toks.length) {
          val h = jvmTokenHash(toks(t))
          var i = 0
          while (i < 16) { votes(i) += ((h >> i) & 1L) * 2 - 1; i += 1 }
          t += 1
        }
        var s = 0L
        var i = 0
        while (i < 16) { if (votes(i) > 0) s |= 1L << i; i += 1 }
        (id, s)
      })
      .toDF(idCol, "simhash")
  }

  /** All pairs at Hamming distance ≤ maxHamming between 16-bit SimHashes,
    * distributed exactly like [[blockNearDups]]: per-doc state is ONE
    * long, the block-pair equi-join streams the n²/2 candidate pairs
    * through a codegen'd `bit_count(xor)` filter inside the join stage —
    * no driver collect, no pair materialization, O(n·nBlocks) shuffle.
    */
  def simhashNearDups(df: DataFrame, idCol: String, textCol: String,
                      maxHamming: Int, nBlocks: Int = 32): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // the typed simhash path is already a projection barrier, so the
    // hash is computed once per doc, never once per pair
    val h = simhashes(df, idCol, textCol)
      .select(col(idCol).cast("long").as("id"), col("simhash"))
      .withColumn("blk", pmod(xxhash64(col("id")), lit(nBlocks.toLong)))
    val blockPairs = (0 until nBlocks)
      .flatMap(i => (i until nBlocks).map(j => (i.toLong, j.toLong)))
      .toDF("bi", "bj")
    h.select(col("id").as("a_id"), col("simhash").as("ha"), col("blk").as("ba"))
      .join(broadcast(blockPairs), col("ba") === col("bi"))
      .join(h.select(col("id").as("b_id"), col("simhash").as("hb"), col("blk").as("bb")),
        col("bj") === col("bb"))
      .filter(col("ba") < col("bb") || col("a_id") < col("b_id"))
      .withColumn("hamming", bit_count(col("ha").bitwiseXOR(col("hb"))))
      .filter(col("hamming") <= maxHamming)
      .select(least(col("a_id"), col("b_id")).as("a_id"),
        greatest(col("a_id"), col("b_id")).as("b_id"), col("hamming"))
  }
}
