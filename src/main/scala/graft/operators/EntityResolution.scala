package graft.operators

import graft.plans.JaroWinklerExpression
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Blocked fuzzy entity resolution — the classic record-linkage shape
  * (Fellegi & Sunter 1969): a cheap BLOCKING key bounds which records can
  * match, a string-similarity kernel scores only within-block pairs.
  *
  * 100 TB plan: one block-keyed shuffle of (id, name, block) projections
  * (never the full rows), within-block self-join, and the codegen'd
  * native [[graft.plans.JaroWinklerExpression]] as the scorer — no UDF in
  * the pair loop. Without a blocking key the problem is n² by definition;
  * with one, cost is Σ|block|², observable and cappable via `maxBlock`
  * (same census-prune discipline as `Dedup.minhashLshPairs` /
  * `Dedup.simhashPairs`: dropped blocks are a filter over the same count
  * aggregate, so lossy runs are cheap to surface).
  */
object EntityResolution {

  /** Candidate duplicate-entity pairs: within-block, scored by
    * Jaro–Winkler, kept at `sim >= threshold`.
    *
    * @param maxBlock  0 = uncapped; otherwise blocks with more than
    *                  `maxBlock` members are EXCLUDED from pair
    *                  generation (a degenerate block — empty name,
    *                  boilerplate key — is n² on its own). Use
    *                  [[fuzzyPairsWithStats]] to see what a capped run
    *                  dropped.
    * @return (a, b, a_name, b_name, sim) with a < b on the id column
    */
  def fuzzyPairs(df: DataFrame, idCol: String, nameCol: String,
      blockCol: String, threshold: Double, maxBlock: Int = 0,
      saltFactor: Int = 1, probeParallelism: Int = 0,
      forceShuffleJoin: Boolean = false): DataFrame =
    fuzzyPairsWithStats(df, idCol, nameCol, blockCol, threshold, maxBlock,
      saltFactor, probeParallelism, forceShuffleJoin)._1

  /** [[fuzzyPairs]] plus the dropped-block census `(block, n)` — empty
    * iff the `maxBlock` cap excluded nothing (or was 0).
    *
    * The pair loop's parallelism depends on which join the planner
    * picks, and each regime has its own lever:
    *
    * @param probeParallelism for the BROADCAST regime (entity table fits
    *   in a broadcast — the common case; the pair loop then runs on the
    *   PROBE side, whose task count is just the upstream file-split
    *   count, e.g. ONE task for a single parquet file regardless of
    *   cores). >0 round-robin-repartitions the probe side to that many
    *   slices, each probing the broadcast independently. 0 = off.
    * @param saltFactor for the SHUFFLE (sort-merge) regime (blocks too
    *   big to broadcast): a block-keyed self-join runs at most one task
    *   per distinct block, and one hot block serializes everything. With
    *   `saltFactor = S` the left side is split into S deterministic
    *   id-hash slices and the right side replicated S× — same pairs
    *   exactly (the slice id is not part of the pair condition),
    *   S·|blocks| tasks each doing 1/S of a block's kernel work. 1 = off
    *   (leave 1 in the broadcast regime: a BHJ replicates the build side
    *   anyway, so salting there only inflates the broadcast).
    * @param forceShuffleJoin pins the pair join to the sort-merge
    *   regime via a merge hint — what the planner picks ON ITS OWN once
    *   the entity table outgrows the broadcast threshold. At gate scale
    *   the table is broadcastable, so this is how the d23 gate (and any
    *   pre-production rehearsal) exercises the exact plan a 100 TB run
    *   gets; pairs are identical in both regimes by construction (d23
    *   hash-matches d22's oracle; plan asserted SMJ in PlanExprSpec).
    */
  /** The regime decision [[resolve]] took, exposed for specs and ops
    * observability: which join regime, and which parallelism lever (and
    * setting) came with it. */
  final case class ResolveDecision(useShuffleJoin: Boolean, saltFactor: Int,
      probeParallelism: Int, entityBytes: Long, rows: Long, maxBlockN: Long)

  /** Auto-regime entity resolution (VERDICT r7 #4): the engine picks the
    * d22-vs-d23 join regime instead of the caller. One tiny census
    * aggregate (O(blocks) shuffled, O(1) collected) measures the entity
    * projection, then:
    *
    *  - BROADCAST regime while the measured (id, name, block) footprint
    *    sits under the session's autoBroadcastJoinThreshold — the d22
    *    plan, with `probeParallelism` engaged automatically so the pair
    *    loop is not bound to the upstream file-split count;
    *  - SORT-MERGE regime beyond it — the d23 plan, with salting turned
    *    on automatically when one hot block's kernel work (n²) exceeds
    *    an even share of the total (the regime where a single block
    *    would serialize the join): saltFactor is sized so the hot
    *    block's slices fit an even share, capped at 16.
    *
    * Pairs are identical in every regime by construction (the d22/d23
    * gates hash-match the same oracle); only the physical plan moves.
    * Both regimes and the salt switch are PlanSpec-proven on
    * constructed inputs. */
  def resolve(df: DataFrame, idCol: String, nameCol: String,
      blockCol: String, threshold: Double, maxBlock: Int = 0): DataFrame =
    resolveWithDecision(df, idCol, nameCol, blockCol, threshold, maxBlock)._1

  /** [[resolve]] plus its [[ResolveDecision]]. */
  def resolveWithDecision(df: DataFrame, idCol: String, nameCol: String,
      blockCol: String, threshold: Double, maxBlock: Int = 0)
      : (DataFrame, ResolveDecision) = {
    val conf = df.sparkSession.sessionState.conf
    // one bounded aggregate: per-block counts + a bytes estimate of the
    // projected entity table (UnsafeRow: 8 B id + string bytes + ~28 B
    // header/offsets), rolled up to four scalars
    val base = df.select(col(idCol).as("id"),
      col(nameCol).cast("string").as("name"),
      col(blockCol).cast("string").as("block"))
    val s = base.groupBy(col("block"))
      .agg(count(lit(1)).as("n"),
        sum(length(col("name")) + length(col("block")) + lit(36)).as("bytes"))
      .agg(sum(col("n")).as("rows"), max(col("n")).as("maxn"),
        sum(col("n") * col("n")).as("sumn2"), sum(col("bytes")).as("bytes"))
      .head()
    if (s.isNullAt(0)) {
      // empty entity table: the global rollup of zero blocks is a single
      // all-NULL row — no pairs by definition, keep the (vacuous)
      // broadcast plan instead of NPEing on the null census
      val pairs = fuzzyPairs(df, idCol, nameCol, blockCol, threshold, maxBlock)
      return (pairs, ResolveDecision(useShuffleJoin = false, 1, 0, 0L, 0L, 0L))
    }
    val (rows, maxn, sumn2, bytes) =
      (s.getLong(0), s.getLong(1), s.getLong(2), s.getLong(3))
    val threshBytes = conf.autoBroadcastJoinThreshold
    val useSmj = threshBytes <= 0 || bytes > threshBytes
    val p = conf.numShufflePartitions
    val salt =
      if (!useSmj) 1
      else {
        // hot-block rule: if the biggest block's n² kernel work exceeds
        // an even 1/p share of Σn², slice it until it doesn't
        val evenShare = math.max(sumn2 / math.max(p, 1), 1L)
        if (maxn * maxn <= evenShare) 1
        else math.min(16L, (maxn * maxn + evenShare - 1) / evenShare).toInt
      }
    val probe = if (useSmj) 0 else p
    val pairs = fuzzyPairs(df, idCol, nameCol, blockCol, threshold, maxBlock,
      saltFactor = salt, probeParallelism = probe, forceShuffleJoin = useSmj)
    (pairs, ResolveDecision(useSmj, salt, probe, bytes, rows, maxn))
  }

  def fuzzyPairsWithStats(df: DataFrame, idCol: String, nameCol: String,
      blockCol: String, threshold: Double, maxBlock: Int = 0,
      saltFactor: Int = 1, probeParallelism: Int = 0,
      forceShuffleJoin: Boolean = false): (DataFrame, DataFrame) = {
    require(saltFactor >= 1, s"saltFactor=$saltFactor must be >= 1")
    require(probeParallelism >= 0, s"probeParallelism=$probeParallelism < 0")
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold=$threshold outside (0,1]")
    require(maxBlock >= 0, s"maxBlock=$maxBlock must be >= 0")
    val base = df.select(col(idCol).as("id"), col(nameCol).as("name"),
      col(blockCol).as("block"))
    val census = base.groupBy(col("block")).agg(count(lit(1)).as("n"))
    val dropped =
      if (maxBlock > 0) census.filter(col("n") > maxBlock)
      else census.filter(lit(false))
    val pruned =
      if (maxBlock > 0) {
        // singleton blocks generate no pairs either; prune both
        val ok = census.filter(col("n").between(2, maxBlock)).select(col("block"))
        base.join(ok, Seq("block"))
      } else base
    // probe-side slicing (broadcast regime) / salted self-join (shuffle
    // regime) — see the scaladoc above for which lever applies when
    val probeSide =
      if (probeParallelism > 0) pruned.repartition(probeParallelism)
      else pruned
    val (l, r) =
      if (saltFactor > 1) {
        (probeSide.withColumn("salt",
          pmod(xxhash64(col("id")), lit(saltFactor)).cast("int")).as("l"),
          pruned.withColumn("salt",
            explode(sequence(lit(0), lit(saltFactor - 1)))).as("r"))
      } else
        (probeSide.withColumn("salt", lit(0)).as("l"),
          pruned.withColumn("salt", lit(0)).as("r"))
    // sound length-ratio prune AHEAD of the kernel: with prefix boost
    // capped at 4·0.1 and jaro ≤ (2 + min/max)/3, any pair satisfies
    // jw ≤ 0.8 + 0.2·(min/max) — so for threshold > 0.8 a pair with
    // min/max < 5·threshold − 4 can NEVER pass, and the length compare
    // is ~free next to the O(len·window) kernel (LengthPruneSpec proves
    // the bound never drops a passing pair)
    val la = length(col("l.name")).cast("double")
    val lb = length(col("r.name")).cast("double")
    val ratioFloor = 5.0 * threshold - 4.0
    val lenOk =
      if (ratioFloor > 0.0)
        least(la, lb) / greatest(la, lb) >= lit(ratioFloor)
      else lit(true)
    // In the forced-SMJ regime the pair loop's parallelism is the join's
    // shuffle partitioning — and AQE would coalesce the (tiny-by-bytes,
    // huge-by-pair-fanout) exchange down to ~1 partition, serializing the
    // kernel. An EXPLICIT repartition on the join keys pins the partition
    // count (user-specified counts are exempt from AQE coalescing) and
    // already satisfies the SMJ's required distribution, so no extra
    // exchange is added — only the sorts.
    val (lj, rj) =
      if (forceShuffleJoin) {
        val n = df.sparkSession.sessionState.conf.numShufflePartitions
        (l.repartition(n, col("l.block"), col("l.salt")),
          r.repartition(n, col("r.block"), col("r.salt")))
      } else (l, r)
    val lh = if (forceShuffleJoin) lj.hint("merge") else lj
    val pairs = lh.join(rj,
        col("l.block") === col("r.block") && col("l.salt") === col("r.salt") &&
          col("l.id") < col("r.id") && lenOk)
      .select(col("l.id").as("a"), col("r.id").as("b"),
        col("l.name").as("a_name"), col("r.name").as("b_name"),
        JaroWinklerExpression.jaroWinkler(col("l.name"), col("r.name")).as("sim"))
      .filter(col("sim") >= lit(threshold))
    (pairs, dropped)
  }
}
