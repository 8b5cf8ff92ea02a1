package graft.llm

import graft.Materialize.Ops
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.{TextFunctions => TF, VectorFunctions => VF}

/** Corpus deduplication at training-data scale. Every variant follows the
  * same scale discipline: the shuffle key is a small hash (8-byte long or a
  * band signature), never the document body; candidate generation is a
  * bucket join (LSH bands / shared shingles), never an all-pairs cross join;
  * verification runs only on candidate pairs.
  *
  * At 100 TB: exact dedup is one shuffle on an 8-byte key; MinHash-LSH is
  * bounded by (docs x bands) rows of (long, long) plus the candidate-pair
  * join, with hot buckets capped by `maxBucketSize`.
  */
object Dedup {

  /** Exact duplicate removal by normalized-content fingerprint: keeps the
    * smallest `idCol` per fingerprint group. Shuffles only (fingerprint, id)
    * until the final semi-join back to full rows.
    */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val keep = df
      .select(col(idCol), TF.contentFingerprint(col(textCol)).as("__fp"))
      .groupBy(col("__fp"))
      .agg(min(col(idCol)).as(idCol))
      .drop("__fp")
    df.join(keep, Seq(idCol), "left_semi")
  }

  /** Deterministic MinHash signature: for each of `numHashes` linear
    * permutations h_i(x) = (a_i*x + b_i) mod p over the hashed word
    * shingles (native NgramHashes over normalized tokens), take the min.
    * One primitive pass per document (MinHashSig expression).
    */
  def minhashSignature(text: Column, shingleSize: Int, numHashes: Int): Column =
    graft.expressions.VectorExpressions.minhash(
      graft.expressions.TextExpressions.ngramHashes(TF.normTokens(text), shingleSize),
      numHashes)

  /** MinHash + LSH near-duplicate candidate pairs.
    *
    * signature -> `bands` bands of `numHashes/bands` rows each; docs sharing
    * any band hash become candidates; candidates are verified with the
    * estimated Jaccard (fraction of matching minhashes) >= `threshold`.
    *
    * Returns (idA, idB, jaccard_est) with idA < idB, distinct.
    *
    * `maxBucketSize` drops degenerate buckets (boilerplate shingles) before
    * the self-join — the standard guard that keeps a skewed bucket from
    * producing O(n^2) pairs at corpus scale.
    */
  def minhashPairs(df: DataFrame, textCol: String, idCol: String,
                   shingleSize: Int = 3, numHashes: Int = 32, bands: Int = 8,
                   threshold: Double = 0.5, maxBucketSize: Int = 1000): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val rows = numHashes / bands

    // Materialized: banding and the verification join both consume it, and
    // the signature computation should run once.
    val sigs = df.select(col(idCol).as("__id"),
      minhashSignature(col(textCol), shingleSize, numHashes).as("__sig"))
      .materialize

    // Candidate generation carries ONLY (8-byte band hash, 8-byte id) —
    // never the signature, let alone the document. At corpus scale the
    // candidate join's shuffle is the dominant cost; keeping its rows at
    // 16 bytes (vs signature-carrying rows) is what makes it survivable.
    val banded = bandHashes(sigs, bands, rows)

    // Hot-bucket cap via partial-aggregated count + anti-join, NOT a Window
    // over (band, bhash): a window funnels every hot bucket through a single
    // task BEFORE the filter can drop it — the exact skew the cap exists to
    // kill. The groupBy count absorbs the skew in its map-side partials, the
    // over-cap bucket list is tiny (<= rows/cap entries of 16 bytes), and
    // AQE turns the anti-join into a broadcast at runtime, so the banded
    // rows themselves never shuffle here.
    val hot = banded.groupBy(col("band"), col("bhash"))
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") > maxBucketSize)
      .select(col("band"), col("bhash"))
    val capped = banded.join(hot, Seq("band", "bhash"), "left_anti")
      .materialize

    val l = capped.select(col("band"), col("bhash"), col("__id").as("idA"))
    val r = capped.select(col("band"), col("bhash"), col("__id").as("idB"))

    val cand = l.join(r, Seq("band", "bhash"))
      .filter(col("idA") < col("idB"))
      .select(col("idA"), col("idB"))
      .dropDuplicates("idA", "idB")

    // Verification: join the (deduplicated, hence bounded) candidate pairs
    // back to the signatures by id, then estimate Jaccard.
    cand
      .join(sigs.select(col("__id").as("idA"), col("__sig").as("sigA")), Seq("idA"))
      .join(sigs.select(col("__id").as("idB"), col("__sig").as("sigB")), Seq("idB"))
      .withColumn("jaccard_est",
        graft.expressions.TextExpressions.matchFraction(col("sigA"), col("sigB")))
      .filter(col("jaccard_est") >= threshold)
      .select(col("idA"), col("idB"), col("jaccard_est"))
  }

  /** (__id, band, bhash) rows derived from a (__id, __sig) signature frame:
    * `bands` hashes of `rows`-element signature slices per doc.
    */
  private def bandHashes(sigs: DataFrame, bands: Int, rows: Int): DataFrame =
    sigs.select(
      col("__id"),
      explode(transform(sequence(lit(0), lit(bands - 1)),
        b => struct(b.as("band"),
          xxhash64(b, slice(col("__sig"), b * rows + lit(1), lit(rows)))
            .as("bhash")))).as("__b"))
      .select(col("__id"), col("__b.band"), col("__b.bhash"))

  /** Persist the corpus's MinHash signatures as the reusable state for
    * INCREMENTAL dedup: computed once, consulted by every later ingest
    * batch via [[dedupAgainstSignatures]] without re-reading or re-hashing
    * any corpus text. Schema (id, sig); band hashes are derived at read
    * time (a cheap slice+hash), so there is no second table to keep in
    * sync.
    */
  def writeMinhashSignatures(df: DataFrame, textCol: String, idCol: String,
                             path: String, shingleSize: Int = 3,
                             numHashes: Int = 32): Unit =
    df.select(col(idCol).as("id"),
        minhashSignature(col(textCol), shingleSize, numHashes).as("sig"))
      .write.mode("overwrite").parquet(path)

  /** Near-duplicate pairs of a NEW ingest batch against a persisted
    * signature table ([[writeMinhashSignatures]] layout): the batch is
    * signed and banded, the corpus side derives its band hashes from the
    * stored signatures, and candidates come from the asymmetric band join
    * with the (small) batch side broadcast — the corpus never shuffles.
    * Candidates verify with the same estimated-Jaccard filter as
    * [[minhashPairs]], so the result is exactly the banded subset of the
    * batch x corpus pairs at `threshold`. Returns
    * (new_id, existing_id, jaccard_est).
    *
    * This is the daily-ingest shape at 100 TB: per batch, cost is one scan
    * of the signature table (a few % of corpus bytes) + batch-sized work,
    * instead of re-running pair generation over the full corpus.
    */
  def dedupAgainstSignatures(newDf: DataFrame, textCol: String, idCol: String,
                             existingSigs: DataFrame,
                             shingleSize: Int = 3, numHashes: Int = 32,
                             bands: Int = 8, threshold: Double = 0.5,
                             maxBucketSize: Int = 1000): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val rows = numHashes / bands
    val newSigs = newDf.select(col(idCol).as("__id"),
        minhashSignature(col(textCol), shingleSize, numHashes).as("__sig"))
      .materialize
    val corpusSigs = existingSigs
      .select(col("id").as("__id"), col("sig").as("__sig"))
    // corpus-side hot buckets are capped exactly as in minhashPairs (the
    // skew lives in the corpus; the batch is small by assumption)
    val cb = bandHashes(corpusSigs, bands, rows)
    val hot = cb.groupBy(col("band"), col("bhash"))
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") > maxBucketSize)
      .select(col("band"), col("bhash"))
    val capped = cb.join(hot, Seq("band", "bhash"), "left_anti")
    // CONTRACT: the ingest batch is small by the operator's definition
    // (per-batch cost = one corpus-signature scan + batch-sized work); the
    // alias declares that bound to the static scale gate.
    val nb = bandHashes(newSigs, bands, rows)
      .select(col("band"), col("bhash"), col("__id").as("new_id"))
      .as(graft.ScaleChecks.BoundedBatchAlias)
    val cand = capped.join(broadcast(nb), Seq("band", "bhash"))
      .select(col("new_id"), col("__id").as("existing_id"))
      .dropDuplicates("new_id", "existing_id")
    cand
      .join(broadcast(newSigs.select(col("__id").as("new_id"),
        col("__sig").as("__sigN"))
        .as(graft.ScaleChecks.BoundedBatchAlias)), Seq("new_id"))
      .join(corpusSigs.select(col("__id").as("existing_id"),
        col("__sig").as("__sigE")), Seq("existing_id"))
      .withColumn("jaccard_est",
        graft.expressions.TextExpressions.matchFraction(
          col("__sigN"), col("__sigE")))
      .filter(col("jaccard_est") >= threshold)
      .select(col("new_id"), col("existing_id"), col("jaccard_est"))
  }

  /** Brute-force exact minhash pair set: ALL pairs with estimated Jaccard
    * (signature match fraction) >= threshold — the recall reference for
    * [[minhashPairs]], whose banded output is a subset of this by
    * construction (its verification step applies the same filter).
    * O(n^2); small corpora only. No broadcast hint on the theta join: the
    * planner broadcasts a side while it fits and falls back to a
    * distributed cartesian beyond — a hint would pin the driver-OOM plan.
    */
  def minhashPairsExact(df: DataFrame, textCol: String, idCol: String,
                        shingleSize: Int = 3, numHashes: Int = 32,
                        threshold: Double = 0.5): DataFrame = {
    val sigs = df.select(col(idCol).as("__id"),
      minhashSignature(col(textCol), shingleSize, numHashes).as("__sig"))
    val l = sigs.select(col("__id").as("idA"), col("__sig").as("sigA"))
    val r = sigs.select(col("__id").as("idB"), col("__sig").as("sigB"))
    l.join(r, col("idA") < col("idB"))
      .withColumn("jaccard_est",
        graft.expressions.TextExpressions.matchFraction(col("sigA"), col("sigB")))
      .filter(col("jaccard_est") >= threshold)
      .select(col("idA"), col("idB"), col("jaccard_est"))
  }

  /** Connected components over an undirected pair graph (idA, idB):
    * returns (id, component) where component = the smallest id reachable
    * from `id`. Iterative min-label propagation — each round every node
    * takes the min of its own label and its neighbors' labels; converges in
    * O(graph diameter) rounds (near-dup clusters are star-like, so a
    * handful). One shuffle per round on (8-byte id, 8-byte label) rows;
    * rounds run until a fixpoint or `maxIter`. This is the exact grouping
    * step after near-dup pair generation.
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20): DataFrame =
    connectedComponentsWithStats(pairs, maxIter)._1

  /** [[connectedComponents]] plus the number of rounds it ran — the
    * observable for the O(log diameter) convergence claim.
    *
    * Per-round state goes through `materializeEager`: local checkpoint
    * blocks by default, fault-tolerant `DataFrame.checkpoint` under
    * `spark.graft.reliableMaterialize` ([[graft.Materialize]]) —
    * `localCheckpoint` blocks live on executors, so one executor loss
    * mid-iteration kills the whole job.
    */
  def connectedComponentsWithStats(pairs: DataFrame,
                                   maxIter: Int = 20): (DataFrame, Int) = {
    // Iterative algorithms must TRUNCATE THE PLAN each round (checkpoint),
    // not just cache: persist() short-circuits execution but the logical
    // plan still nests one level per round and analysis time explodes.
    val idA = pairs.columns(0)
    val idB = pairs.columns(1)
    // undirected edge list, both directions — ONE pass over `pairs` via
    // explode, never `pairs.union(pairs.swapped)`: the upstream pair
    // generator is typically an expensive candidate join (n-gram/minhash),
    // and a two-branch union re-executes its post-exchange stages once per
    // branch (measured r9: q65 = 52.9 CPU-s vs 18.5 for one kernel pass;
    // the explode form makes the generator subtree appear exactly once)
    val edges = pairs
      .select(explode(array(
        struct(col(idA).as("src"), col(idB).as("dst")),
        struct(col(idB).as("src"), col(idA).as("dst")))).as("__e"))
      .select(col("__e.src").as("src"), col("__e.dst").as("dst"))
      .distinct().materializeEager
    var labels = edges.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("component")).materializeEager
    // Convergence is read off the label-sum invariant: labels only ever
    // decrease, so the per-round sum of components is strictly decreasing
    // until the fixpoint and equal exactly there — one cheap aggregate over
    // the freshly checkpointed rows replaces a per-row change flag (and the
    // join that computed it). decimal(38,0) keeps the sum exact at any
    // corpus size (no ANSI long overflow).
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(sum(col("component").cast("decimal(38,0)")).as("s"))
        .head.getDecimal(0)
    var prevSum = labelSum(labels)
    var curEdges = edges
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      // each node's candidate label = min(own, neighbors' labels): the
      // union + single groupBy replaces a neighbor-agg PLUS a left join
      // back to labels — one fewer shuffle of the full label set per round
      val viaEdges = curEdges
        .join(labels.withColumnRenamed("id", "src"), Seq("src"))
        .select(col("dst").as("id"), col("component"))
        .union(labels)
        .groupBy(col("id"))
        .agg(min(col("component")).as("component"))
      // pointer jumping: follow the label's own label (labels only ever
      // decrease, so parent <= child) — squares the propagated distance
      // per round, so convergence is O(log diameter) rounds, not O(diameter)
      val parents = viaEdges.select(col("id").as("component"),
        col("component").as("__parent"))
      val next = viaEdges.join(parents, Seq("component"), "left")
        .select(col("id"),
          coalesce(col("__parent"), col("component")).as("component"))
        .materializeEager
      val newSum = labelSum(next)
      converged = newSum.compareTo(prevSum) == 0
      prevSum = newSum
      labels = next
      iter += 1
      if (!converged) {
        // EDGE CONTRACTION: rewrite surviving edges onto current component
        // representatives and drop intra-component edges. Dup-cluster
        // cliques (the dedup workload's shape) collapse to nothing after
        // one round, so later rounds join a rapidly shrinking
        // representative graph instead of all |E| rows every round —
        // contraction preserves rep connectivity exactly (only self-loops
        // are dropped), and non-representative nodes keep converging
        // through the pointer-jump step, which reads the full label table.
        curEdges = curEdges
          .join(labels.select(col("id").as("src"),
            col("component").as("__ls")), Seq("src"))
          .join(labels.select(col("id").as("dst"),
            col("component").as("__ld")), Seq("dst"))
          .select(col("__ls").as("src"), col("__ld").as("dst"))
          .filter(col("src") =!= col("dst"))
          .distinct().materializeEager
      }
    }
    (labels, iter)
  }

  /** 64-bit SimHash: sign of the per-bit weighted sum of token hashes. Docs
    * with small Hamming distance between simhashes are near-duplicates.
    */
  def simhash(text: Column): Column =
    graft.expressions.VectorExpressions.simhash64(
      graft.expressions.TextExpressions.tokenHashes(TF.normTokens(text)))

  /** Default [[simhashPairs]] bucket cap. Finite on purpose: one degenerate
    * cluster (e.g. millions of empty documents, all simhash 0) makes the
    * blocking self-join quadratic, and at corpus scale that is a worse
    * default than losing recall inside a pathological bucket. 10k rows caps
    * any one bucket's pair output at ~5e7 — large but bounded. Audit the
    * carve-out with [[simhashDroppedBuckets]]; pass `Int.MaxValue` when the
    * exactness guarantee must hold unconditionally.
    */
  val DefaultSimhashBucketCap: Int = 10000

  /** Pigeonhole blocking rows (id, simhash, chunk index, chunk value) shared
    * by [[simhashPairs]] and [[simhashDroppedBuckets]]: the 64-bit simhash
    * split into `maxHamming + 1` bit chunks, one output row per chunk.
    */
  private def simhashBlocks(df: DataFrame, textCol: String, idCol: String,
                            maxHamming: Int): DataFrame =
    sigBlocks(df.select(col(idCol).as("__id"),
      simhash(col(textCol)).as("__sh")), maxHamming)

  /** The same pigeonhole blocking over ANY precomputed 64-bit signature
    * relation (__id, __sh) — simhash, perceptual image hash, etc.
    */
  private def sigBlocks(sh: DataFrame, maxHamming: Int): DataFrame = {
    val blocks  = maxHamming + 1
    val bitsPer = 64 / blocks
    sh.select(col("__id"), col("__sh"),
      explode(array((0 until blocks).map { b =>
        // chunk b = bits [b*bitsPer, ...); the last chunk takes the remainder
        val width = if (b == blocks - 1) 64 - b * bitsPer else bitsPer
        val chunk =
          if (width == 64) col("__sh")
          else shiftrightunsigned(col("__sh"), b * bitsPer)
            .bitwiseAND(lit((1L << width) - 1L))
        struct(lit(b).as("blk"), chunk.as("bval"))
      }: _*)).as("__b"))
      .select(col("__id"), col("__sh"), col("__b.blk"), col("__b.bval"))
  }

  /** The carve-out [[simhashPairs]] drops at its `maxBucketSize` cap:
    * (chunk index, chunk value, bucket_n) for every over-cap bucket. Rows in
    * these buckets lose the pigeonhole recall guarantee for the chunk —
    * surface `sum(bucket_n)` next to the pair output when capping at scale.
    */
  def simhashDroppedBuckets(df: DataFrame, textCol: String, idCol: String,
                            maxHamming: Int = 3,
                            maxBucketSize: Int = DefaultSimhashBucketCap): DataFrame =
    simhashBlocks(df, textCol, idCol, maxHamming)
      .groupBy(col("blk"), col("bval"))
      .agg(count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n") > maxBucketSize)

  /** SimHash near-duplicate pairs with pigeonhole blocking: the 64-bit
    * simhash is split into `maxHamming + 1` bit chunks; two hashes within
    * Hamming distance `maxHamming` differ in at most `maxHamming` chunks, so
    * they MUST agree exactly on at least one chunk — blocking on every
    * (chunk index, chunk value) and unioning candidates guarantees
    * recall = 1 while candidate generation stays an equi-join on 2^16
    * buckets per chunk (at maxHamming = 3). Candidates are verified with the
    * exact Hamming distance, so precision is also 1.
    *
    * `maxBucketSize` (rows sharing one chunk value) caps degenerate buckets
    * — e.g. a large cluster of empty documents, all simhash 0 — before the
    * self-join. Capping trades the recall guarantee on rows inside dropped
    * buckets for a bound on the join's output; the default is finite (see
    * [[DefaultSimhashBucketCap]]) and the dropped carve-out is auditable via
    * [[simhashDroppedBuckets]].
    */
  def simhashPairs(df: DataFrame, textCol: String, idCol: String,
                   maxHamming: Int = 3,
                   maxBucketSize: Int = DefaultSimhashBucketCap): DataFrame =
    pairsFromBlocks(simhashBlocks(df, textCol, idCol, maxHamming),
      maxHamming, maxBucketSize)

  /** Pigeonhole Hamming pairs over ANY precomputed 64-bit signature column
    * — the [[simhashPairs]] machinery (recall-1 blocking, finite bucket
    * cap, exact verify) reused for perceptual image hashes and other
    * bit-signature families.
    */
  def hammingPairs(df: DataFrame, sigCol: String, idCol: String,
                   maxHamming: Int = 3,
                   maxBucketSize: Int = DefaultSimhashBucketCap): DataFrame =
    pairsFromBlocks(sigBlocks(df.select(col(idCol).as("__id"),
      col(sigCol).as("__sh")), maxHamming), maxHamming, maxBucketSize)

  private def pairsFromBlocks(banded: DataFrame, maxHamming: Int,
                              maxBucketSize: Int): DataFrame = {
    val capped =
      if (maxBucketSize == Int.MaxValue) banded
      else {
        // groupBy-count + anti-join, not a Window: see minhashPairs — the
        // partial aggregation absorbs the very skew the cap targets.
        val hot = banded.groupBy(col("blk"), col("bval"))
          .agg(count(lit(1)).as("__n"))
          .filter(col("__n") > maxBucketSize)
          .select(col("blk"), col("bval"))
        banded.join(hot, Seq("blk", "bval"), "left_anti")
      }
    val l = capped.select(col("blk"), col("bval"),
      col("__id").as("idA"), col("__sh").as("shA"))
    val r = capped.select(col("blk"), col("bval"),
      col("__id").as("idB"), col("__sh").as("shB"))
    // Hamming-verify BEFORE dropDuplicates: the hashes ride along at 8
    // bytes each, the bit_count filter is codegen'd per-row in the join
    // output, and on duplicate-heavy corpora it shrinks the dedup shuffle
    // by orders of magnitude (every pair in a duplicate cluster collides in
    // ALL chunks, so the pre-filter candidate set is ~(maxHamming+1)x the
    // qualifying pairs).
    l.join(r, Seq("blk", "bval"))
      .filter(col("idA") < col("idB"))
      .withColumn("hamming", bit_count(col("shA").bitwiseXOR(col("shB"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("idA"), col("idB"), col("hamming"))
      .dropDuplicates("idA", "idB")
  }

  /** Brute-force exact simhash pair set: O(n^2) Hamming scan — the
    * correctness oracle for [[simhashPairs]] (which must equal it exactly,
    * by the pigeonhole argument). Small corpora only; the theta join is
    * unhinted so the planner picks broadcast vs distributed cartesian.
    */
  def simhashPairsExact(df: DataFrame, textCol: String, idCol: String,
                        maxHamming: Int = 3): DataFrame = {
    val sh = df.select(col(idCol).as("__id"), simhash(col(textCol)).as("__sh"))
    val l  = sh.select(col("__id").as("idA"), col("__sh").as("shA"))
    val r  = sh.select(col("__id").as("idB"), col("__sh").as("shB"))
    l.join(r, col("idA") < col("idB"))
      .withColumn("hamming", bit_count(col("shA").bitwiseXOR(col("shB"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("idA"), col("idB"), col("hamming"))
  }

  /** n-gram Jaccard similarity over the df-filtered shingle sets: shingles
    * with document frequency outside [2, maxShingleFreq] are removed globally
    * BEFORE pair generation, and the Jaccard is defined on the remaining
    * sets. df=1 shingles can't create a pair; df>max shingles are
    * boilerplate that would make every posting list quadratic in the
    * hottest key.
    *
    * The pairs come from posting lists of ids alone:
    *  - one aggregate per gram gives its df (`count`, so a null id counts
    *    toward it) and its id-sorted posting list
    *    ([[graft.expressions.CappedIdList]]: nulls are skipped, so a null
    *    id pairs with nothing, and a buffer of at most maxShingleFreq + 1
    *    ids, so a boilerplate gram never buffers the corpus);
    *  - every entry A of a kept list takes the ids after it, the last entry
    *    an empty tail, so the number of tails A collects is its rare-gram
    *    count szA;
    *  - one codegen'd expression per A ([[graft.expressions.JaccardOverlap]])
    *    counts each B over A's tails and emits `(idB, inter)` only where
    *    `inter / szA >= threshold`, a bound no kept pair fails;
    *  - the candidates join each B's rare-gram count szB, and
    *    `inter / (szA + szB - inter) >= threshold` keeps the pairs (long
    *    arithmetic, then double division; spec-tested against brute force).
    *
    * No candidate exists below the bound, and A's buffer is bounded by its
    * rare-gram count x the df cap. The candidates cross one small shuffle,
    * so a caller's global sort samples them instead of running the kernel
    * again. No step checkpoints, so a lost executor's partitions recompute.
    *
    * Measured on the 50k-doc stress corpus at local[4] (short ~150-gram
    * lists, heavy near-dup clusters; `graft.Stress <sf0.1> 10 docs`): 5.7 s
    * wall and 13.9 executor CPU-s at t=0.5, 4.0 s at t=0.8. Tails of
    * (id, size) structs took 10.9 s and 27.2 CPU-s at t=0.5; at t=0.8 the
    * relational self-join took 32.7 s and an AllPairs-style prefix filter
    * (self-join on each doc's rarest grams, then per-pair verification)
    * 15.0 s — replicas collide on rare grams anyway, so the prefix prunes
    * little while adding a per-doc rarity sort.
    */
  def ngramJaccardPairs(df: DataFrame, textCol: String, idCol: String,
                        n: Int = 3, threshold: Double = 0.3,
                        maxShingleFreq: Int = 100): DataFrame = {
    val lists = df.select(col(idCol).as("__id"),
        explode(array_distinct(
          graft.expressions.TextExpressions.ngramHashes(
            TF.normTokens(col(textCol)), n))).as("__g"))
      .groupBy(col("__g"))
      .agg(count(lit(1)).as("__df"), graft.expressions.TextExpressions
          .cappedIdList(col("__id"), maxShingleFreq).as("__pl"))
      .filter(col("__df").between(2, maxShingleFreq))
    // doc A at position p of a list takes the ids after it
    val cands = lists.select(col("__pl"), posexplode(col("__pl")))
      .select(col("col").as("idA"),
        slice(col("__pl"), col("pos") + 2, size(col("__pl")) - col("pos") - 1)
          .as("__tail"))
      .groupBy(col("idA"))
      .agg(collect_list(col("__tail")).as("__tails"))
      .select(col("idA"), size(col("__tails")).cast("long").as("__szA"),
        inline(graft.expressions.TextExpressions
          .jaccardOverlap(col("__tails"), threshold)))
      .repartition(col("idB"))
    val sizes = lists.select(explode(col("__pl")).as("idB"))
      .groupBy(col("idB")).agg(count(lit(1)).as("__szB"))
    cands.join(sizes, Seq("idB"))
      .select(col("idA"), col("idB"),
        (col("inter").cast("double") /
          (col("__szA") + col("__szB") - col("inter")).cast("double"))
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Exact embedding near-duplicate pairs: all-pairs cosine >= threshold.
    * O(n^2) — the correctness oracle for [[embeddingPairs]]; small corpora
    * only. Unhinted theta join: the planner broadcasts a side while it
    * fits and distributes the cartesian beyond.
    */
  def embeddingPairsExact(df: DataFrame, vecCol: String, idCol: String,
                          threshold: Double): DataFrame = {
    // Per-row norms precomputed; per-pair work is one dot product.
    // dot/(normA*normB) is bit-identical to a fused cosine.
    val v = df.select(col(idCol).as("__id"), col(vecCol).as("__v"),
      VF.norm(col(vecCol)).as("__n"))
    val l = v.select(col("__id").as("idA"), col("__v").as("vA"), col("__n").as("nA"))
    val r = v.select(col("__id").as("idB"), col("__v").as("vB"), col("__n").as("nB"))
    l.join(r, col("idA") < col("idB"))
      .withColumn("cosine",
        when(col("nA") * col("nB") === 0.0, 0.0)
          .otherwise(VF.dot(col("vA"), col("vB")) / (col("nA") * col("nB"))))
      .filter(col("cosine") >= threshold)
      .select(col("idA"), col("idB"), col("cosine"))
  }

  /** Embedding near-duplicate pairs: cosine >= threshold, candidates bucketed
    * by random-hyperplane LSH with OR-amplification — `nTables` independent
    * `sigBits`-bit tables; docs colliding in ANY table become candidates.
    * For same-bucket probability p = (1 - theta/pi) per plane, recall is
    * 1 - (1 - p^sigBits)^nTables: raise sigBits to cut candidates, raise
    * nTables to recover recall. Candidate pairs are verified with the exact
    * cosine, so precision is always 1 against the threshold.
    */
  /** sigBits sized so expected bucket occupancy stays near `targetOccupancy`
    * (buckets ~ 2^sigBits per table): per-bucket pair generation is
    * quadratic in occupancy, so a FIXED sigBits goes superlinear the moment
    * the corpus outgrows it — measured on the stress corpus: 200k vectors at
    * sigBits=12 (occupancy ~49) cost 69x the 40k-vector time; resizing to
    * the suggested 15 restores near-linear behavior. Recall lost to the
    * narrower buckets is recovered by `nTables` (OR-amplification).
    */
  def suggestedSigBits(corpusSize: Long, targetOccupancy: Int = 8): Int = {
    val buckets = math.max(1.0, corpusSize.toDouble / targetOccupancy)
    math.min(24, math.max(8, math.ceil(math.log(buckets) / math.log(2)).toInt))
  }

  /** Empirically calibrated sigBits: [[suggestedSigBits]] assumes hash
    * buckets fill uniformly, but CORRELATED corpora (near-duplicate
    * clusters, replicated shards) pack the same buckets well past the
    * uniform prediction — measured on the 1M-vector stress corpus:
    * median occupancy 17 at the analytic 17 bits (target 8), 1.4e9
    * candidate pairs, shuffle spill past local disk. This probes ONE
    * table's signature histogram at the analytic width and widens by
    * log2(p50 / target) bits; pair volume drops ~4x per extra bit while
    * OR-amplification across `nTables` recovers recall. One extra
    * corpus pass (count + one signature aggregate) — noise next to the
    * pair join it right-sizes.
    */
  def calibratedSigBits(df: DataFrame, vecCol: String,
                        targetOccupancy: Int = 8): Int = {
    val n = df.count()
    val base = suggestedSigBits(n, targetOccupancy)
    // empty corpus: the percentile aggregate below returns a null row —
    // the analytic floor is the only answer there is
    if (n == 0) return base
    val p50 = df
      .select(graft.functions.VectorFunctions
        .hyperplaneSignature(col(vecCol), base, 0).as("sig"))
      .groupBy(col("sig")).agg(count(lit(1)).as("c"))
      .agg(expr("percentile(c, 0.5)")).head.getDouble(0)
    val extra =
      if (p50 <= targetOccupancy) 0
      else math.ceil(math.log(p50 / targetOccupancy) / math.log(2)).toInt
    math.min(24, base + extra)
  }

  /** k-means cell count sized so expected cell population stays near
    * `targetCellSize`: [[semanticDedup]]'s within-cell verification is
    * quadratic in cell population, so a FIXED cell count goes quadratic
    * the moment the corpus outgrows it — the bench-derived rule is
    * cells ~ corpus/2000 (200k vectors: 27.3 s at 16 cells vs ~4 s at
    * 100). Floor of 16 keeps tiny corpora from degenerating to one cell;
    * no ceiling — centroid training caps its own sample and assignment
    * is a broadcast argmin, so large cell counts stay cheap.
    */
  def suggestedCells(corpusSize: Long, targetCellSize: Int = 2000): Int =
    math.max(16, math.ceil(corpusSize.toDouble /
      math.max(1, targetCellSize)).toInt)

  /** RefinedWeb-style line-level deduplication: a line is boilerplate when
    * its exact content occurs in >= `minDocs` DISTINCT documents (headers,
    * footers, nav chrome); boilerplate lines are removed from every document
    * and the remaining lines reassembled in order (a fully-boilerplate
    * document survives with empty text).
    *
    * At 100 TB: the line-frequency aggregate and the anti-join both key on
    * xxhash64(line) — 8-byte shuffle rows; the line text itself never
    * shuffles for counting (a 64-bit collision can at worst misclassify one
    * rare line as boilerplate). Reassembly shuffles each KEPT line once to
    * its document's reducer; the per-doc sort is an in-memory array_sort
    * over that document's own lines.
    */
  def dedupLines(df: DataFrame, textCol: String, idCol: String,
                 minDocs: Int): DataFrame = {
    val lines = df.select(col(idCol),
        posexplode(split(col(textCol), "\n")).as(Seq("__pos", "__line")))
      .withColumn("__lh", xxhash64(col("__line")))
      .materialize
    val boiler = lines.groupBy(col("__lh"))
      .agg(countDistinct(col(idCol)).as("__nd"))
      .filter(col("__nd") >= minDocs)
      .select(col("__lh"))
    // CONTRACT-bounded collect: the per-doc buffer holds the surviving
    // lines of ONE document — bounded by max document length, independent
    // of corpus size (the reassembled document is the op's deliverable).
    // Declared plan-visibly for ScaleChecks check 5; DomainAudit measures
    // the actual per-group payload across scale factors.
    val rebuilt = graft.ScaleChecks.boundedDomain(
        lines.join(boiler, Seq("__lh"), "left_anti"),
        "per-document surviving lines: buffer bounded by max document " +
          "length, independent of corpus size",
        budget = 1000000L)
      .groupBy(col(idCol))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("__pos"), col("__line")))),
          s => s.getField("__line")), "\n").as("clean_text"))
    df.select(col(idCol))
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** Embedding near-dedup keeping EXACTLY one vector (the smallest id) per
    * connected near-duplicate cluster: [[embeddingPairs]] candidates grouped
    * by [[connectedComponents]], so chained near-dups (a~b~c with a!~c)
    * collapse to one representative instead of dropping both chain ends.
    */
  def embeddingDedupClustered(df: DataFrame, vecCol: String, idCol: String,
                              threshold: Double = 0.95, sigBits: Int = 8,
                              nTables: Int = 8): DataFrame = {
    val pairs = embeddingPairs(df, vecCol, idCol, threshold, sigBits, nTables)
      .select(col("idA"), col("idB"))
    val drop = connectedComponents(pairs)
      .filter(col("id") =!= col("component"))
      .select(col("id").as(idCol))
    df.join(drop, Seq(idCol), "left_anti")
  }

  /** SemDeDup-style semantic deduplication: k-means cells bound the
    * quadratic verification. A row is DROPPED when a lower-id row in the
    * same cell has cosine >= `threshold`; survivors keep their cell id.
    * Within-cell witnesses are also global witnesses, so the kept set is
    * always a superset of the exact (all-pairs) kept set — the approximation
    * loss is only cross-cell near-duplicates, bounded by how well the
    * centroids track the data (trained with
    * [[Similarity.trainSphericalKMeans]]: hash-spread seeds, capped sample).
    *
    * At 100 TB: assignment is a broadcast argmin (no shuffle beyond the
    * per-id aggregate); the cell self-join ships each normalized vector once
    * to its cell's reducers, and the per-cell pair work is quadratic in cell
    * population — size `nCentroids` ~ corpus/targetCellSize so cells stay
    * small, exactly how SemDeDup bounds its O(n^2). `nCentroids = 0`
    * (the default) auto-sizes via [[suggestedCells]] from one corpus
    * count — a fixed cell count goes quadratic the moment the corpus
    * outgrows it (measured: 200k vectors at nCentroids=16 cost 27 s vs
    * ~4 s at the suggested 100), the same failure mode
    * [[suggestedSigBits]] closes for LSH buckets.
    */
  def semanticDedup(df: DataFrame, vecCol: String, idCol: String,
                    threshold: Double, nCentroids: Int = 0,
                    kmeansIters: Int = 3): DataFrame = {
    require(nCentroids >= 0, "nCentroids must be >= 0 (0 = auto-size)")
    val cells =
      if (nCentroids > 0) nCentroids else suggestedCells(df.count())
    val centroids = Similarity.trainSphericalKMeans(df, vecCol, idCol,
      cells, kmeansIters)
    val assigned = Similarity.assignCells(df, vecCol, idCol, centroids)
      .select(col("__id"), col("cell"), VF.l2Normalize(col("__v")).as("__nv"))
      .materialize
    val l = assigned.select(col("cell"), col("__id").as("idA"),
      col("__nv").as("vA"))
    val r = assigned.select(col("cell"), col("__id").as("idB"),
      col("__nv").as("vB"))
    val dropped = l.join(r, Seq("cell"))
      .filter(col("idA") < col("idB"))
      .filter(VF.dot(col("vA"), col("vB")) >= threshold)
      .select(col("idB")).distinct()
    assigned
      .join(dropped, assigned("__id") === dropped("idB"), "left_anti")
      .select(col("__id").as(idCol), col("cell"))
  }

  def embeddingPairs(df: DataFrame, vecCol: String, idCol: String,
                     threshold: Double = 0.95, sigBits: Int = 8,
                     nTables: Int = 8): DataFrame = {
    // Verification happens INSIDE the bucket self-join: the normalized
    // vector rides with its signature rows (one shuffle of
    // n x nTables x ~(sig + vec) bytes), each same-bucket pair's cosine
    // is computed in the join task, and only PASSING pairs — output-
    // sized, 20-byte rows — reach the distinct. The earlier shape
    // (id-only candidates, vectors joined back after dedup) shuffled the
    // full vector once per CANDIDATE through two equi-joins; on a
    // correlated corpus (near-dup clusters) candidates dwarf the corpus
    // — measured at 1M stress vectors: 1.4e9 candidates x ~0.5 KB
    // through the verify joins spilled past local disk, while this shape
    // moves ~6 GB of signature rows and burns the re-computed cosines as
    // cheap codegen CPU (a pair agreeing in k tables is verified k
    // times; duplicates collapse in the final distinct). Sparse corpora
    // pay one slightly wider signature shuffle and skip two vector
    // joins + the candidate-id dedup at its widest.
    val sigged = df.select(col(idCol).as("__id"),
      VF.l2Normalize(col(vecCol)).as("__v"),
      explode(array((0 until nTables).map { t =>
        struct(lit(t).as("tbl"),
          VF.hyperplaneSignature(col(vecCol), sigBits, t * sigBits).as("sig"))
      }: _*)).as("__s"))
      .select(col("__id"), col("__v"), col("__s.tbl"), col("__s.sig"))
      .materialize
    val l = sigged.select(col("tbl"), col("sig"),
      col("__id").as("idA"), col("__v").as("vA"))
    val r = sigged.select(col("tbl"), col("sig"),
      col("__id").as("idB"), col("__v").as("vB"))
    l.join(r, Seq("tbl", "sig"))
      .filter(col("idA") < col("idB"))
      .withColumn("cosine", VF.dot(col("vA"), col("vB")))
      .filter(col("cosine") >= threshold)
      .select(col("idA"), col("idB"), col("cosine"))
      .dropDuplicates("idA", "idB")
  }

  /** Leakage-safe dataset split: near-duplicate documents must land in the
    * SAME split — a doc in train whose near-dup sits in eval leaks training
    * content into evaluation (the split-time twin of benchmark
    * decontamination). The near-dup pair graph collapses to clusters via
    * [[connectedComponents]]; every doc carries its cluster label (its own
    * id when unclustered) and the deterministic split hash is taken on the
    * CLUSTER label, so each cluster moves between splits as one unit.
    *
    * At 100 TB the extra cost over a plain doc-id split is the CC rounds on
    * 16-byte pair rows plus one label join — the document bodies never
    * shuffle.
    */
  def splitByCluster(df: DataFrame, idCol: String, pairs: DataFrame,
                     percents: Seq[Int], outCol: String = "split",
                     labelCol: Option[String] = None): DataFrame = {
    val labels = connectedComponents(pairs)
      .withColumnRenamed("id", idCol)
    val labeled = df.join(labels, Seq(idCol), "left")
      .withColumn("__cluster", coalesce(col("component"), col(idCol)))
      .drop("component")
    val split = graft.ops.Sampling.splitByKey(labeled, "__cluster", percents, outCol)
    labelCol.fold(split.drop("__cluster"))(n => split.withColumnRenamed("__cluster", n))
  }

  /** Repeated-substring detection — the EXACT-substring dedup signal
    * ("Deduplicating Training Data Makes Language Models Better": corpora
    * carry verbatim k-token substrings repeated across documents; docs
    * dominated by such spans are memorization bait). Suffix arrays don't
    * distribute; the equivalent relational form does: every k-token window
    * is hashed (one NgramHashes pass per doc), a window is DUPLICATED when
    * its hash occurs more than once in the corpus (across docs or within
    * one), and overlapping duplicated windows merge into maximal spans.
    *
    * Returns per doc: token count, duplicated-window count, merged-span
    * count, and the fraction of tokens covered by any duplicated span —
    * the filter column (`dup_frac > tau` drops the doc).
    *
    * At 100 TB: the frequency pass shuffles the 8-byte window hash only
    * (map-side partial counts absorb hot boilerplate hashes); positions
    * rejoin by that hash; the span merge is a per-doc window over
    * DUPLICATED windows only (coverage via sum(min(k, next-pos)) — no
    * k-times position explode). The document text never shuffles.
    */
  def repeatedSpanStats(df: DataFrame, textCol: String, idCol: String,
                        k: Int = 10): DataFrame = {
    require(k >= 1, "window size must be >= 1")
    val toks = df.select(col(idCol).as("__id"),
      TF.normTokens(col(textCol)).as("__toks"))
    val grams = toks.filter(size(col("__toks")) >= k)
      .select(col("__id"), posexplode(
        graft.expressions.TextExpressions.ngramHashes(col("__toks"), k))
        .as(Seq("__pos", "__g")))
    val dupHashes = grams.groupBy(col("__g"))
      .agg(count(lit(1)).as("__c"))
      .filter(col("__c") > 1)
      .select(col("__g"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__id")).orderBy(col("__pos"))
    val spans = grams.join(dupHashes, Seq("__g"))
      .select(col("__id"), col("__pos"))
      .withColumn("__nxt", lead(col("__pos"), 1).over(w))
      .withColumn("__prv", lag(col("__pos"), 1).over(w))
      .groupBy(col("__id"))
      .agg(count(lit(1)).as("n_dup_windows"),
        sum(when(col("__nxt").isNull, k.toLong)
          .otherwise(least(lit(k.toLong), col("__nxt") - col("__pos"))))
          .as("__covered"),
        sum(when(col("__prv").isNull || col("__pos") - col("__prv") > k, 1L)
          .otherwise(0L)).as("n_spans"))
    toks.select(col("__id"), size(col("__toks")).cast("long").as("n_tokens"))
      .join(spans, Seq("__id"), "left")
      .select(col("__id").as(idCol), col("n_tokens"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        round(coalesce(col("__covered"), lit(0L)) /
          greatest(col("n_tokens"), lit(1L)), 6).as("dup_frac"))
  }
}
