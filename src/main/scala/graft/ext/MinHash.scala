package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * MinHash + LSH and SimHash near-duplicate detection, built entirely from
 * codegen'd array expressions (no UDFs, no MLlib) so the whole signature
 * computation stays inside whole-stage codegen.
 *
 * Scale design (100 TB): signatures are fixed-width arrays of longs
 * computed map-side; candidate generation shuffles only
 * (band_hash, doc_id) pairs — the classic MinHash-LSH banding scheme
 * (Broder 1997; Leskovec/Rajaraman/Ullman ch. 3). All-pairs comparison
 * never happens; cost is bounded by collisions within bands.
 */
object MinHash {

  /** Per-(session, kind) handle to the LAST persisted signature cache —
    * the [[graft.log.Admin]] `lastStatsCache` lifecycle: each new call
    * releases the previous call's cache, so a long-lived session
    * invoking the dedup entry points over distinct inputs holds at most
    * ONE signature cache per kind (minhash/simhash) instead of
    * accumulating a disk-backed entry per call (MEMORY_AND_DISK blocks
    * evict to disk under pressure but their CacheManager entries live
    * until session end). Unpersisting the previous handle is always
    * safe — a concurrent reader of it merely recomputes from lineage.
    * Handles are STRONG (a weak ref could be GC'd before the next call,
    * making the stale cache unreleasable — the CacheManager pins the
    * blocks regardless); entries for stopped sessions are swept on
    * every register so the registry never outlives its contexts. */
  private val lastSigCache =
    new java.util.concurrent.ConcurrentHashMap[org.apache.spark.sql.SparkSession,
      java.util.concurrent.ConcurrentHashMap[String, DataFrame]]()

  private def registerSigCache(kind: String, df: DataFrame): DataFrame = {
    val persisted =
      df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    lastSigCache.keySet.removeIf(s => s.sparkContext.isStopped)
    val perSession = lastSigCache.computeIfAbsent(persisted.sparkSession,
      _ => new java.util.concurrent.ConcurrentHashMap[String, DataFrame])
    Option(perSession.put(kind, persisted)).filterNot(_ eq persisted)
      // CacheManager caches by canonical PLAN, not by object: when the
      // new call re-derives the same input (same docs, same params),
      // persist() above was a no-op on the already-cached entry, and
      // unpersisting the "previous" handle here would uncache the very
      // plan the new call is about to consume — releasing only on a
      // genuinely different plan keeps the one-pass guarantee for
      // repeated same-input calls
      .filterNot { prev =>
        try prev.queryExecution.analyzed
          .sameResult(persisted.queryExecution.analyzed)
        catch { case _: Throwable => false }
      }
      .foreach(prev => try { prev.unpersist(false); () }
        catch { case _: Throwable => () })
    persisted
  }

  /** Release every signature cache this module holds for `spark` — call
    * when a dedup pass is fully consumed and the session lives on (a
    * resident service); the entry points release the PREVIOUS cache
    * automatically, so this only reclaims the final one. */
  def releaseCaches(spark: org.apache.spark.sql.SparkSession): Unit =
    Option(lastSigCache.remove(spark)).foreach { m =>
      m.values.forEach(df => try { df.unpersist(false); () }
        catch { case _: Throwable => () })
    }

  /**
   * MinHash signature of `numHashes` permutations over word shingles.
   * Permutation i is simulated with xxhash64(seed=i, shingle); the
   * signature entry is the min hash per seed — standard one-pass trick.
   *
   * The shingle array and the per-shingle base hashes are materialized
   * ONCE per row (separate projections) before fanning out to the
   * `numHashes` mins — without this, Catalyst inlines the shingle
   * expression into every min and recomputes the split/slice 32×.
   */
  def withSignature(docs: DataFrame, textCol: String = "text",
                    shingleN: Int = 3, numHashes: Int = 32): DataFrame =
    // widen a single-split scan first: the shingle+minhash kernel is the
    // expensive per-row stage (measured ~0.5 ms/doc — the sub-128MB
    // fixture file otherwise runs it on ONE task; ensureParallelism is
    // an identity on real multi-split inputs)
    TextOps.ensureParallelism(docs)
      .withColumn("minhash", graft.functions.Sketch.minhash_sig(
        graft.functions.Sketch.shingle_hashes(col(textCol), shingleN, distinct = true),
        numHashes))

  /**
   * LSH candidate pairs: split the signature into `bands` bands of
   * `rows = numHashes/bands` values; docs agreeing on all values in any
   * band become candidates (probability 1-(1-s^rows)^bands for true
   * Jaccard s). Returns candidate pairs with estimated Jaccard =
   * fraction of agreeing signature positions.
   */
  def lshCandidates(docs: DataFrame, idCol: String = "doc_id",
                    textCol: String = "text", shingleN: Int = 3,
                    numHashes: Int = 32, bands: Int = 8): DataFrame = {
    require(bands >= 1 && numHashes % bands == 0,
      s"bands ($bands) must divide numHashes ($numHashes): rows = 0 " +
        s"would make every band hash identical corpus-wide (all-pairs " +
        s"blowup), and a remainder would silently ignore trailing " +
        s"signature positions, changing the documented recall")
    val rows = numHashes / bands
    // docs with NO shingles (shorter than the shingle width) can never
    // be shingle-near-dups — and their all-sentinel MinHash signatures
    // would collide in EVERY band (est_jaccard 1.0), silently deleting
    // unrelated short docs in lshDedup and putting the whole short-doc
    // class into one bucket per band (O(n²) pairs in a web corpus)
    // the emptiness test is the cheap token-count equivalent (a doc has
    // ≥1 shingle ⟺ ≥ shingleN tokens) — re-running the shingle kernel
    // just to size it would double the dominant per-row cost
    // persist (MEMORY_AND_DISK, lazy): the minhash-signature kernel
    // feeds BOTH sides of the band self-join as distinct subplans —
    // cache (id, minhash) so the per-doc shingle+permutation work runs
    // one pass per call, not two. persist over localCheckpoint: lineage
    // stays intact (an executor loss recomputes instead of failing on a
    // missing checkpoint block) and nothing executes until the caller
    // runs the query. Lifecycle via [[registerSigCache]]: each call
    // releases the previous call's cache; [[releaseCaches]] drops the
    // last one.
    val sig = registerSigCache("minhash",
      withSignature(docs, textCol, shingleN, numHashes)
        .filter(size(split(col(textCol), " ")) >= shingleN)
        .select(col(idCol).as("id"), col("minhash")))
    val banded = sig.select(col("id"), col("minhash"),
        explode(array((0 until bands).map { b =>
          struct(lit(b).as("band"),
            xxhash64(lit(b), slice(col("minhash"), b * rows + 1, rows))
              .as("band_hash"))
        }: _*)).as("bh"))
      .select(col("id"), col("minhash"), col("bh.band"), col("bh.band_hash"))
    val a = banded.toDF("id_a", "mh_a", "band", "band_hash")
    val b = banded.toDF("id_b", "mh_b", "band", "band_hash")
    // est_jaccard is deterministic per (id_a, id_b), so compute it BEFORE
    // the candidate dedup: the distinct then shuffles only
    // (id, id, double) — 24 bytes/pair — instead of carrying both full
    // minhash signature arrays (~512 bytes/pair) through the exchange.
    // SHUFFLE_HASH for the same reason as [[simhashPairs]]: the band
    // join's cost is quadratic in per-bucket matches, invisible to the
    // byte-based estimate that otherwise broadcasts the banded side and
    // serializes pair generation onto the input partitions
    a.join(b.hint("shuffle_hash"), Seq("band", "band_hash"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("est_jaccard",
        graft.functions.Sketch.minhash_agreement(col("mh_a"), col("mh_b"))
          .cast("double") / size(col("mh_a")))
      .select("id_a", "id_b", "est_jaccard").distinct()
  }

  /**
   * Exact-verified LSH near-dup pairs: LSH candidate generation, then a
   * verify join that ships each candidate's shingle-hash set ONCE (keyed
   * on scalar doc ids) and computes exact Jaccard = |A∩B| / |A∪B|;
   * only pairs at or above `threshold` survive. This is the end-to-end
   * MinHash-LSH dedup contract — candidates bound the work, the exact
   * recompute guarantees soundness — and its output is oracle-checkable
   * (DuckDB brute-forces the same exact Jaccard over string shingles).
   *
   * `bands` defaults to 16 (rows=2) here, tighter than the candidate
   * default, so recall at threshold ≥ 0.8 is 1 - (1-s²)^16 ≈ 1-8e-8 —
   * effectively exhaustive while still never comparing all pairs.
   */
  def lshVerifiedPairs(docs: DataFrame, threshold: Double = 0.8,
                       idCol: String = "doc_id", textCol: String = "text",
                       shingleN: Int = 3, numHashes: Int = 32,
                       bands: Int = 16): DataFrame = {
    val cands = lshCandidates(docs, idCol, textCol, shingleN, numHashes, bands)
      .select("id_a", "id_b")
    // the verify side re-runs the shingle kernel — widen it too
    val sh = TextOps.ensureParallelism(docs).select(col(idCol).as("id"),
      graft.functions.Sketch.shingle_hashes(col(textCol), shingleN, distinct = true).as("sh"))
    TextOps.verifyExactJaccard(cands, sh, threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jac_r"))
  }

  /** SimHash analog of [[lshVerifiedPairs]]: block-permuted candidate
    * pairs within `maxHamming`, then the same exact-Jaccard verify join. */
  def simhashVerifiedPairs(docs: DataFrame, maxHamming: Int = 3,
                           threshold: Double = 0.8, idCol: String = "doc_id",
                           textCol: String = "text", shingleN: Int = 3): DataFrame = {
    val cands = simhashPairs(docs, maxHamming, idCol, textCol)
      .select("id_a", "id_b")
    // NOT widened, unlike lshVerifiedPairs: there the candidate stage's
    // minhash kernel justifies the round-robin exchange of the raw text;
    // here the candidate stage runs unwidened (its 1-gram kernel is
    // cheap), so widening would add that exchange for the one 3-gram
    // pass alone. Measured with TimeOne (simhash_pairs, sf0.1 documents
    // = one split, local[4], warm reps 2-5 of two runs each): wall
    // 3.6-4.7 s unwidened vs 3.4-4.3 s widened, no difference beyond the
    // spread; task time 2.6-3.7 s vs 2.8-3.4 s.
    val sh = docs.select(col(idCol).as("id"),
      graft.functions.Sketch.shingle_hashes(col(textCol), shingleN, distinct = true).as("sh"))
    TextOps.verifyExactJaccard(cands, sh, threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jac_r"))
  }

  /** MinHash-LSH dedup: drop docs whose estimated Jaccard to a
   * smaller-id doc exceeds `threshold`. */
  def lshDedup(docs: DataFrame, threshold: Double = 0.8,
               idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val dupIds = lshCandidates(docs, idCol, textCol)
      .filter(col("est_jaccard") >= threshold)
      .select(col("id_b").as(idCol)).distinct()
    docs.join(dupIds, Seq(idCol), "left_anti")
  }

  /**
   * SimHash (Charikar 2002): 64-bit signature where bit j is the sign of
   * the sum over tokens of ±1 weighted by bit j of the token hash.
   * Expressed as an aggregate over the token array: for each bit,
   * count tokens with that bit set vs total; near-dups = small Hamming
   * distance. Bitwise ops on longs are codegen'd.
   */
  def simhash(text: Column, bits: Int = 64): Column = {
    val toks = TextOps.tokens(text)
    val hashes = transform(toks, t => xxhash64(t))
    val bitCols = (0 until bits).map { j =>
      // +1 if bit j set else -1, summed; sign decides final bit j
      val votes = aggregate(hashes, lit(0L), (acc, h) =>
        acc + when(shiftright(h, j).bitwiseAND(1L) === 1L, 1L).otherwise(-1L))
      when(votes > 0, shiftleft(lit(1L), j)).otherwise(lit(0L))
    }
    bitCols.reduce(_.bitwiseOR(_))
  }

  def withSimhash(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.withColumn("simhash", simhash(col(textCol)))

  /**
   * Scale-path SimHash: tokens hashed once per row, then the 64 bit-votes
   * computed by the native [[graft.functions.SimHashSigExpr]] kernel in a
   * single pass (one virtual call per row). Identical result to
   * [[simhash]] — the expression-tree version is kept as its test oracle.
   */
  def simhashAgg(docs: DataFrame, idCol: String = "doc_id",
                 textCol: String = "text"): DataFrame =
    // NOT widened (r18 A/B, mirroring the schema_evolution decline): the
    // 1-gram distinct=false token-hash + bit-vote kernel is cheap per row
    // relative to a round-robin exchange (+ sort-before-repartition) of
    // the raw text — widening here measured 2.53 -> 5.5 s cold at 32
    // cores in the r17 driver bench and anti-scaled 0.46 vs 8 cores
    docs.select(col(idCol),
      graft.functions.Sketch.simhash_sig(
        graft.functions.Sketch.shingle_hashes(col(textCol), 1, distinct = false))
        .as("simhash"))

  /** Hamming distance between two 64-bit signatures. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /**
   * SimHash near-dup pairs within `maxHamming`, using the block-permuted
   * index trick (Manku et al. 2007): split 64 bits into `maxHamming+1`
   * blocks; any pair within distance d agrees exactly on ≥1 block —
   * join on (block_id, block_value) instead of all-pairs.
   */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3,
                   idCol: String = "doc_id", textCol: String = "text",
                   bucketShardCap: Int = 1024): DataFrame = {
    require(maxHamming >= 0, s"maxHamming must be >= 0, got $maxHamming")
    require(bucketShardCap > 0, s"bucketShardCap must be > 0")
    val blocks = maxHamming + 1
    val width = 64 / blocks
    // persist (MEMORY_AND_DISK, lazy): the signature pass — the per-doc
    // shingle + bit-vote kernel, the expensive per-row work — feeds
    // THREE plan branches below (the bucket-size aggregate and both
    // join sides), and their exchanges differ so ReuseExchange cannot
    // collapse them; caching the (id, simhash) pairs keeps the kernel
    // at one pass per call instead of three. persist over
    // localCheckpoint: lineage intact (executor-loss tolerant), no
    // eager job at construction. Lifecycle via [[registerSigCache]]
    // (previous-call release + [[releaseCaches]]).
    val sig = registerSigCache("simhash",
      simhashAgg(docs, idCol, textCol)
        .select(col(idCol).as("id"), col("simhash")))
    val keyed = sig.select(col("id"), col("simhash"),
      explode(array((0 until blocks).map { blk =>
        struct(lit(blk).as("blk"),
          shiftright(col("simhash"), blk * width)
            // Scala's shift is mod 64, so width = 64 (maxHamming = 0,
            // exact-signature blocking) needs the explicit full mask —
            // (1L << 64) - 1 is 0 and would degenerate to all-pairs
            .bitwiseAND(if (width == 64) -1L else (1L << width) - 1)
            .as("blk_val"))
      }: _*)).as("k"))
      .select(col("id"), col("simhash"), col("k.blk"), col("k.blk_val"))
    // TRIANGLE-SHARD oversized buckets (r9 probe finding: at the 8×8-bit
    // near-identical config one hot (blk, blk_val) bucket put 93% of the
    // wall on a single task — C(|bucket|,2) pairs are generated by ONE
    // join key, and narrower blocks only inflate total volume, 24.6M →
    // 678M measured at 4 → 8 blocks, so block splitting can't help).
    // A bucket of n > cap members splits into G = ceil(n/cap) id-hash
    // shards; pair (a,b) is produced exactly once at join key
    // (blk, blk_val, min(s_a,s_b), max(s_a,s_b)) — the a-side carries
    // shard s as i for every j ≥ s, the b-side as j for every i ≤ s —
    // bounding per-key pair work by ~cap² while preserving the exact
    // pair set. Unsharded buckets (G = 1, the common case) pay one
    // extra co-partitioned size join and zero replication.
    val sizes = keyed.groupBy("blk", "blk_val").agg(count(lit(1)).as("_bn"))
    val sharded = keyed.join(sizes, Seq("blk", "blk_val"))
      .withColumn("_g", ceil(col("_bn") / lit(bucketShardCap)).cast("int"))
      .withColumn("_s", pmod(xxhash64(col("id")), col("_g")).cast("int"))
    val a = sharded
      .withColumn("_j", explode(sequence(col("_s"), col("_g") - 1)))
      .select(col("id").as("id_a"), col("simhash").as("sh_a"),
        col("blk"), col("blk_val"), col("_s").as("_i"), col("_j"))
    val b = sharded
      .withColumn("_i", explode(sequence(lit(0), col("_s"))))
      .select(col("id").as("id_b"), col("simhash").as("sh_b"),
        col("blk"), col("blk_val"), col("_i"), col("_s").as("_j"))
    // Hamming distance computed (and thresholded) pre-distinct so the
    // dedup exchange carries three scalars per pair, not the signatures.
    // Pairs are NORMALIZED (least, greatest), not order-filtered: at a
    // cross-shard key (i, j), i < j, the pair arrives in exactly one
    // orientation — whichever member hashed to shard i is the a-side —
    // so an `id_a < id_b` filter would drop every pair whose smaller id
    // landed in the larger shard; same-shard keys arrive in both
    // orientations and collapse in the distinct.
    // SHUFFLE_HASH, never broadcast: by BYTES the keyed side is tiny
    // (50k rows easily clears the autoBroadcast threshold) so Catalyst
    // picks a broadcast join — which erases the key partitioning and
    // runs the O(Σ|bucket|²) pair generation map-side at input-partition
    // parallelism (measured: 10 tasks × ~23 s EACH at 10×, every task
    // fat). The cost of this join is quadratic in matches, invisible to
    // byte-based planning; hash-partitioning by (bucket, shard) is the
    // entire point of the shard split above.
    a.join(b.hint("shuffle_hash"), Seq("blk", "blk_val", "_i", "_j"))
      .filter(col("id_a") =!= col("id_b"))
      .withColumn("hamming", hamming(col("sh_a"), col("sh_b")))
      .filter(col("hamming") <= maxHamming)
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"), col("hamming"))
      .distinct()
  }
}
