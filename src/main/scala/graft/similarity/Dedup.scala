package graft.similarity

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Document deduplication for LLM-training-data pipelines.
  *
  * Four tiers, cheapest-first, the way a 100 TB dedup pass layers
  * them: exact content-hash dedupe, then SimHash / MinHash+LSH
  * candidate generation (both avoid the O(n²) cross join by shuffling
  * on band/bucket keys), with the n-gram Jaccard self-join as the
  * precise verifier over candidate pairs.
  *
  * Everything is pure column algebra over `xxhash64`/`md5`/bit ops —
  * no UDFs, fully codegen'd, one shuffle per groupBy/join on keys
  * that hash-partition evenly (shingle, band signature, bit-band).
  */
object Dedup {

  /** Distinct word-n-gram shingles per document: (idCol, shingle).
    * Documents shorter than n tokens produce no shingles. */
  def shingles(docs: DataFrame, idCol: String, textCol: String, n: Int = 3): DataFrame =
    docs
      .select(col(idCol), split(col(textCol), " ").as("__t"))
      .where(size(col("__t")) >= n)
      .select(
        col(idCol),
        explode(array_distinct(expr(
          s"transform(sequence(1, size(__t) - ${n - 1}), i -> array_join(slice(__t, i, $n), ' '))"))).as("shingle"))

  /** Benchmark decontamination: flag every training document sharing
    * at least `minShared` distinct word-n-gram shingles with some
    * eval-set document — the overlap check run before training to
    * keep benchmark text out of the corpus.
    *
    * Plan shape: shingle both sides (narrow, codegen'd), join on the
    * 64-bit shingle hash (8-byte shuffle keys, same trick as
    * ngramJaccardPairs — a hash collision needs ~2e-9 odds to create
    * one phantom shared shingle, and `minShared` makes a phantom PAIR
    * need several), count per (train, eval) pair, filter. The eval
    * side is the small one by construction (benchmarks are MBs, the
    * corpus is TBs), so candidate mass per shingle is
    * df_train × df_eval with df_eval tiny. At 100 TB run this with
    * n = 8..13 (the published decontamination grain): long shingles
    * are selective, which keeps hot-shingle join skew negligible —
    * n = 3 here only because the synthetic docs are ~100 tokens.
    *
    * @param maxDf TRAIN-side shingle document-frequency cap for the
    *   small-n regime (the q17 rare/hot decomposition, bipartite
    *   form): pair GENERATION joins eval only against shingles in at
    *   most `maxDf` train docs — a stopword shingle ("of the and" in
    *   10⁶ train docs) can no longer put df_train × df_eval rows on
    *   one shuffle key; per-key mass is bounded by maxDf × df_eval.
    *   The dropped hot shingles still COUNT toward every generated
    *   pair: they re-join against the candidate pairs only (mass ≤
    *   |candidates| × hot-shingles-per-doc), so any pair sharing ≥1
    *   sub-cap shingle gets its exact uncapped count. Residual
    *   contract: a (train, eval) pair whose shared shingles are ALL
    *   hot is missed — at decontamination semantics that pair is
    *   stopword-only overlap, the band below any sane `minShared`
    *   threshold; size maxDf well above df of genuinely-copied
    *   benchmark text (which is rare by definition). Int.MaxValue
    *   (default) disables the cap and the extra joins entirely. */
  def decontaminate(
      train: DataFrame,
      evalSet: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      minShared: Long = 5,
      maxDf: Int = Int.MaxValue): DataFrame = {
    val ts = shingles(train, idCol, textCol, n)
      .select(col(idCol).as("train_doc"), xxhash64(col("shingle")).as("__h"))
    val es = shingles(evalSet, idCol, textCol, n)
      .select(col(idCol).as("eval_doc"), xxhash64(col("shingle")).as("__h"))
    val counts =
      if (maxDf == Int.MaxValue) {
        ts.join(es, "__h")
          .groupBy("train_doc", "eval_doc")
          .agg(count(lit(1)).as("shared_shingles"))
      } else {
        // three consumers (df table, rare join, hot re-join) — persist
        // so the train shingle scan runs once; lifecycle follows the
        // library contract (CacheScope.releaseAll between runs)
        val tsP = ts.transform(graft.CacheScope.persisted(_))
        val byDf = tsP.groupBy("__h").agg(count(lit(1)).as("__df"))
        val rareCounts = tsP
          .join(byDf.where(col("__df") <= maxDf).select("__h"), Seq("__h"))
          .join(es, Seq("__h"))
          .groupBy("train_doc", "eval_doc")
          .agg(count(lit(1)).as("__cr"))
          // consumed twice (hot re-join probe + final sum) — persist so
          // the rare join runs once
          .transform(graft.CacheScope.persisted(_))
        val hotTs = tsP.join(byDf.where(col("__df") > maxDf).select("__h"), Seq("__h"))
        val hotCounts = rareCounts.select("train_doc", "eval_doc")
          .join(hotTs, Seq("train_doc"))
          .join(es, Seq("eval_doc", "__h"))
          .groupBy("train_doc", "eval_doc")
          .agg(count(lit(1)).as("__ch"))
        rareCounts
          .join(hotCounts, Seq("train_doc", "eval_doc"), "left")
          .select(col("train_doc"), col("eval_doc"),
            (col("__cr") + coalesce(col("__ch"), lit(0L))).as("shared_shingles"))
      }
    counts.where(col("shared_shingles") >= minShared)
  }

  /** Bloom-accelerated decontamination: same contract and output as
    * [[decontaminate]] (uncapped form), different shuffle economics.
    *
    * The uncapped exact form shuffles EVERY train shingle into the
    * join, although almost none of them exist on the eval side
    * (benchmarks are MBs, the corpus is TBs — overlap is the rare
    * event the operator exists to find). Here the eval side's hashes
    * are folded into ONE bloom filter (graft_bloom_agg: distributed
    * build, bitwise-OR merge, a single bounded binary to the driver —
    * filter size is set by |eval shingles| and fpp, independent of
    * corpus size), and the train scan keeps only bloom-POSITIVE
    * shingles, so the join shuffle carries |matches| + fpp·|train|
    * rows instead of |train|. The probe
    * ([[graft.functions.BloomMightContain]]) inlines into the scan's
    * whole-stage codegen as one mightContainLong per row — the same
    * machinery as Catalyst's injected runtime filters, made explicit
    * and composable.
    *
    * False positives cannot reach the output: every surviving row
    * still goes through the exact hash join and the ≥ minShared
    * count, so the filter changes WHERE rows die (scan vs shuffle),
    * never which pairs emerge — the operator stays hash-oracle-able
    * against the same SQL as the exact form, and the spec plants an
    * fpp high enough to force false positives through and asserts
    * the output anyway. False negatives cannot happen at all (bloom
    * filters one-side err). */
  def decontaminateBloom(
      train: DataFrame,
      evalSet: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      minShared: Long = 5,
      fpp: Double = 0.01): DataFrame = {
    graft.functions.GraftFunctions.register(train.sparkSession)
    val es = shingles(evalSet, idCol, textCol, n)
      .select(col(idCol).as("eval_doc"), xxhash64(col("shingle")).as("__h"))
      // three consumers: the sizing count, the filter build, the join
      .transform(graft.CacheScope.persisted(_))
    // sizing pass doubles as the persist warm-up; the eval side is
    // the small one by construction, so this action is dim-scale
    val nEval = math.max(es.count(), 1L)
    val filterBytes = es
      .agg(call_function("graft_bloom_agg", col("__h"), lit(nEval), lit(fpp)))
      .head.getAs[Array[Byte]](0)
    val ts = shingles(train, idCol, textCol, n)
      .select(col(idCol).as("train_doc"), xxhash64(col("shingle")).as("__h"))
      .where(call_function("graft_bloom_contains", lit(filterBytes), col("__h")))
    ts.join(es, Seq("__h"))
      .groupBy("train_doc", "eval_doc")
      .agg(count(lit(1)).as("shared_shingles"))
      .where(col("shared_shingles") >= minShared)
  }

  /** Exact dedupe: group documents by content hash, keep lowest id.
    * At 100 TB this is the first pass — a single hash-partitioned
    * aggregation, no joins. */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .groupBy(md5(col(textCol)).as("text_hash"))
      .agg(min(col(idCol)).as("keeper_doc_id"), count(lit(1)).as("n_copies"))

  /** Near-duplicate pairs by n-gram shingle Jaccard similarity.
    *
    * Inverted-index join on the shingle (shuffle key = shingle hash)
    * rather than a doc×doc cross join: cost is Σ(docs-per-shingle²),
    * which stays tractable when shingles are selective. At 100 TB you
    * run this only over MinHash/SimHash candidate pairs; standalone it
    * is exact and oracle-checkable.
    */
  /** Jaccard-threshold stage shared by the exact self-join path and
    * the candidate-verification path: given (doc_a, doc_b, __i)
    * intersection counts and per-doc shingle counts, emit pairs with
    * |A∩B| / |A∪B| >= threshold. The >= boundary and the no-rounding
    * policy (a single IEEE division of exact integer inputs is
    * bit-identical across engines) are defined HERE, once. */
  private def jaccardThreshold(
      inter: DataFrame,
      counts: DataFrame,
      idCol: String,
      threshold: Double): DataFrame =
    inter
      .join(counts.select(col(idCol).as("doc_a"), col("__n").as("__na")), Seq("doc_a"))
      .join(counts.select(col(idCol).as("doc_b"), col("__n").as("__nb")), Seq("doc_b"))
      .withColumn("jaccard", col("__i").cast("double") / (col("__na") + col("__nb") - col("__i")))
      .where(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")

  /** @param maxDf shingle document-frequency cap for CANDIDATE
    *   generation: the shingle self-join runs only on shingles
    *   appearing in at most `maxDf` documents, so one ubiquitous
    *   stop-phrase shingle ("of the and" in 10⁶ docs) can no longer
    *   put df² pairs into a single shuffle key — the join cost is
    *   bounded by Σ(min(df, maxDf)²). Verification then counts the
    *   FULL intersection over the candidate pairs, so any found pair
    *   gets its exact uncapped Jaccard. A duplicate CLUSTER larger
    *   than maxDf would push even its own shingles over the cap, so
    *   the capped path additionally admits exact-duplicate candidates
    *   (equi-join on the content hash — these pairs are all true
    *   positives, and their quadratic count is the OUTPUT size, not
    *   avoidable shuffle skew). Residual contract: a NEAR-identical
    *   (not byte-identical) cluster larger than maxDf can still lose
    *   pairs — size maxDf above the largest expected near-dup cluster,
    *   or collapse exact dups (q16) before this pass, the tiered
    *   design the scaladoc above describes. Int.MaxValue (default)
    *   disables the cap and the extra joins entirely. */
  def ngramJaccardPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      threshold: Double = 0.8,
      maxDf: Int = Int.MaxValue): DataFrame = {
    // consumed three times (counts + both self-join sides); persist so
    // the tokenize/shingle scan runs once, not per consumer. All joins
    // and aggregations here only need shingle EQUALITY, so the string
    // is replaced by its 64-bit hash up front: the self-join then
    // shuffles 8-byte keys instead of ~30-byte strings (measured: the
    // dominant join stage drops 2.8s → 1.6s at sf0.1). 260k distinct
    // shingles put the collision odds near 2e-9, the pipeline is
    // deterministic, and the cross-engine oracle would catch a merge.
    val sh = shingles(docs, idCol, textCol, n)
      .select(col(idCol), xxhash64(col("shingle")).as("shingle"))
      .transform(graft.CacheScope.persisted(_))
    val counts = sh.groupBy(col(idCol)).agg(count(lit(1)).as("__n"))
    val inter =
      if (maxDf == Int.MaxValue) {
        // uncapped: the self-join's per-pair row count IS the
        // intersection size — no separate verification pass needed
        sh.as("a")
          .join(sh.as("b"),
            col("a.shingle") === col("b.shingle") && col(s"a.$idCol") < col(s"b.$idCol"))
          .groupBy(col(s"a.$idCol").as("doc_a"), col(s"b.$idCol").as("doc_b"))
          .agg(count(lit(1)).as("__i"))
      } else {
        // split the shingle universe at the cap ONCE; the self-join
        // runs only on the sub-cap side (bounded key multiplicity),
        // and — exactly like the uncapped path — its per-pair row
        // count IS the rare-side intersection, so no distinct and no
        // re-join of the full shingle table is ever needed.
        // byDf is cheap to recompute from the persisted sh; interRare
        // (the expensive self-join, one small row per candidate pair)
        // is persisted because three subtrees consume it — lifecycle
        // follows sh's documented contract (CacheScope.releaseAll
        // between pipeline runs; Verify/Bench do)
        val byDf = sh.groupBy(col("shingle")).agg(count(lit(1)).as("__df"))
        val candSh = sh.join(byDf.where(col("__df") <= maxDf).select("shingle"), Seq("shingle"))
        val interRare = candSh.as("a")
          .join(candSh.as("b"),
            col("a.shingle") === col("b.shingle") && col(s"a.$idCol") < col(s"b.$idCol"))
          .groupBy(col(s"a.$idCol").as("doc_a"), col(s"b.$idCol").as("doc_b"))
          .agg(count(lit(1)).as("__ir"))
          .transform(graft.CacheScope.persisted(_))
        // the dropped hot shingles still count toward a FOUND pair's
        // intersection: join the (few) >cap shingles against the
        // candidate pairs only — Σ shared-hot-per-pair rows, bounded
        val hotSh = sh.join(byDf.where(col("__df") > maxDf).select("shingle"), Seq("shingle"))
        val interHot = interRare.select("doc_a", "doc_b")
          .join(hotSh.select(col(idCol).as("doc_a"), col("shingle")), Seq("doc_a"))
          .join(hotSh.select(col(idCol).as("doc_b"), col("shingle")), Seq("doc_b", "shingle"))
          .groupBy("doc_a", "doc_b")
          .agg(count(lit(1)).as("__ih"))
        val viaShingles = interRare
          .join(interHot, Seq("doc_a", "doc_b"), "left")
          .select(col("doc_a"), col("doc_b"),
            (col("__ir") + coalesce(col("__ih"), lit(0L))).as("__i"))
        // identical-doc rescue: a cluster of >maxDf byte-identical
        // copies can have NO sub-cap shingle at all — admit its pairs
        // via the content hash (true jaccard=1.0 positives; identical
        // shingle sets ⇒ intersection = own shingle count, no join)
        val hashes = docs.select(col(idCol), md5(col(textCol)).as("__h"))
        val exactOnly = hashes.as("a")
          .join(hashes.as("b"),
            col("a.__h") === col("b.__h") && col(s"a.$idCol") < col(s"b.$idCol"))
          .select(col(s"a.$idCol").as("doc_a"), col(s"b.$idCol").as("doc_b"))
          // anti-join against interRare, whose pair set equals
          // viaShingles' by construction (left join preserves rows) —
          // skips re-expanding the interHot subtree in this branch
          .join(interRare.select("doc_a", "doc_b"), Seq("doc_a", "doc_b"), "left_anti")
          .join(counts.select(col(idCol).as("doc_a"), col("__n").as("__i")), Seq("doc_a"))
          .select("doc_a", "doc_b", "__i")
        viaShingles.unionByName(exactOnly)
      }
    jaccardThreshold(inter, counts, idCol, threshold)
  }

  /** Exact shingle-intersection counts for an explicit candidate-pair
    * list ([[nearDupKeepers]]'s LSH-candidate verification): joins
    * each side's full shingle set and counts matches — cost is
    * |candidates| × shingles-per-doc, never docs². */
  private def fullIntersection(cands: DataFrame, sh: DataFrame, idCol: String): DataFrame =
    cands
      .join(sh.select(col(idCol).as("doc_a"), col("shingle")), Seq("doc_a"))
      // (doc_b, shingle) must BOTH be join keys: with doc_b alone the
      // join materializes |pairs| × shingles-per-doc² rows and leaves
      // the shingle match to a filter; keyed on the pair it emits
      // intersection rows only
      .join(sh.select(col(idCol).as("doc_b"), col("shingle")), Seq("doc_b", "shingle"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("__i"))

  /** MinHash + LSH banding candidate pairs.
    *
    * numHashes min-hash permutations via seeded `xxhash64(seed, shingle)`;
    * signatures split into `bands` bands whose hash is the LSH bucket
    * key. Docs sharing ≥1 band bucket become candidates. The only
    * shuffles are the per-doc signature aggregation and the band-key
    * self-join — never a cross join, which is the whole point at scale.
    */
  def minhashLsh(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 16,
      bands: Int = 4,
      n: Int = 3): DataFrame =
    minhashLshFromShingles(shingles(docs, idCol, textCol, n), idCol, numHashes, bands)

  /** Same, over an existing shingle table — lets composed pipelines
    * (nearDupKeepers) reuse one persisted shingle scan for candidate
    * generation AND verification. */
  def minhashLshFromShingles(
      sh: DataFrame,
      idCol: String,
      numHashes: Int = 16,
      bands: Int = 4): DataFrame = {
    val banded = bandSignaturesFromShingles(sh, idCol, numHashes, bands)
    banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .groupBy(col(s"a.$idCol").as("doc_a"), col(s"b.$idCol").as("doc_b"))
      .agg(count(lit(1)).as("n_shared_bands"))
  }

  /** The `(id, band, sig)` MinHash band-signature TABLE the LSH join
    * buckets on, exposed as a first-class relation so an incremental
    * pipeline can PUBLISH it as a maintained index: signatures depend
    * only on a document's own shingles (seeded `xxhash64(i, shingle)`
    * — deterministic, corpus-independent), so a signature computed for
    * a batch today band-joins exactly against signatures computed for
    * the corpus last month. Cost ∝ the documents signed, which is what
    * makes the crawl-ingest near-dup gate incremental: the corpus is
    * signed ONCE, each batch signs only itself. */
  def bandSignatures(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 16,
      bands: Int = 4,
      n: Int = 3): DataFrame =
    bandSignaturesFromShingles(shingles(docs, idCol, textCol, n), idCol, numHashes, bands)

  private def bandSignaturesFromShingles(
      sh: DataFrame,
      idCol: String,
      numHashes: Int,
      bands: Int): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val rowsPerBand = numHashes / bands
    val sigCols = (0 until numHashes).map(i => min(xxhash64(lit(i), col("shingle"))).as(s"__h$i"))
    val sigs = sh.groupBy(col(idCol)).agg(sigCols.head, sigCols.tail: _*)
    val bandCols = (0 until bands).map { b =>
      val hs = (b * rowsPerBand until (b + 1) * rowsPerBand).map(i => col(s"__h$i"))
      struct(lit(b).as("band"), xxhash64(hs: _*).as("sig"))
    }
    sigs
      .select(col(idCol), explode(array(bandCols: _*)).as("__bs"))
      .select(col(idCol), col("__bs.band").as("band"), col("__bs.sig").as("sig"))
  }

  /** Incremental near-dup candidate pairs of a batch against a
    * MAINTAINED signature index — the crawl-ingest twin of
    * [[incrementalNew]] at the near-dup grain. `index` is the
    * published [[bandSignatures]] table of everything ingested so far
    * (versioned under the commit protocol; each admitted batch
    * appends its own signatures via `Txn.append`, cost ∝ batch — the
    * corpus text is never re-shingled). The batch's signatures
    * equi-join the index on `(band, sig)`: one index scan per batch,
    * with the batch side broadcast-able whenever the batch is small
    * relative to the corpus (the daily-crawl shape — AQE picks the
    * broadcast), so no corpus-sized shuffle. Returns
    * `(corpus_doc, batch_doc, n_shared_bands)`; same-id rows are
    * excluded (a re-ingested identical document is the EXACT gate's
    * job — [[incrementalNew]] runs upstream of this).
    *
    * Equivalence contract (IncrementalNearDupSpec): the pair set is
    * exactly the corpus×batch cross slice of a from-scratch
    * [[minhashLsh]] run over corpus ∪ batch — maintaining the index
    * is an optimization, never a recall change. */
  def incrementalNearDupPairs(
      index: DataFrame,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 16,
      bands: Int = 4,
      n: Int = 3): DataFrame =
    crossPairsFromSignatures(index,
      bandSignatures(batch, idCol, textCol, numHashes, bands, n), idCol)

  /** The join half of [[incrementalNearDupPairs]], over signatures the
    * caller already holds — the streaming admission gate (S32) signs
    * each batch once and reuses the signatures across the cross join,
    * the batch-internal self-join, and the index append. */
  def crossPairsFromSignatures(
      index: DataFrame,
      batchSigs: DataFrame,
      idCol: String): DataFrame =
    index.select(col(idCol).as("corpus_doc"), col("band"), col("sig"))
      .join(batchSigs.select(col(idCol).as("batch_doc"), col("band"), col("sig")),
        Seq("band", "sig"))
      .where(col("corpus_doc") =!= col("batch_doc"))
      .groupBy("corpus_doc", "batch_doc")
      .agg(count(lit(1)).as("n_shared_bands"))

  /** SimHash near-duplicate pairs with hamming-band blocking.
    *
    * Token-weighted SimHash: every token's xxhash64 votes ±1 per bit;
    * the sign of the per-bit sum is the fingerprint bit. The bits are
    * packed into at least `maxHamming + 1` band signatures; candidate
    * pairs must share ≥1 exact band (pigeonhole: hamming ≤ m with
    * bands ≥ m+1 ⇒ ≥1 band exact), then the true hamming distance is
    * `bit_count(a XOR b)` summed over bands. Bit-vote aggregation and
    * band join are the only shuffles.
    *
    * `numBits` is the SCALE dial (the sf-sweep's named q19 cause):
    * random pairs collide per band with probability 2^(−bits/bands),
    * so candidate mass is (m+1)·n²·2^(−bits/(m+1)) — at 64 bits the
    * 16-bit bands hold to ~10⁵ docs, past that widen to 128 (32-bit
    * bands: n²/2³² random mass, good to ~10⁹). Same law as
    * [[Ann.lshBits]]: band width must grow with log n. The wider
    * fingerprint also sharpens the hamming threshold (same m over
    * more bits = a stricter similarity bar), which is exactly the
    * semantics a bigger corpus wants. */
  def simhashPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3,
      numBits: Int = 64): DataFrame = {
    // consumed three times (candidate self-join + both verify sides) —
    // persisting removes a silent 3× recompute of the vote aggregation
    // (measured 13.2 s → 3.9 s at the 3× sweep point). Lifecycle
    // follows the library contract: CacheScope.releaseAll between
    // pipeline runs (Verify/Bench do).
    val bandSigs = simhashBandSigs(docs, idCol, textCol, maxHamming, numBits)
      .transform(graft.CacheScope.persisted(_))
    val cands = bandSigs.as("a")
      .join(bandSigs.as("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("doc_a"), col(s"b.$idCol").as("doc_b"))
      .distinct()

    cands
      .join(bandSigs.select(col(idCol).as("doc_a"), col("band"), col("sig").as("__sa")), Seq("doc_a"))
      .join(bandSigs.select(col(idCol).as("doc_b"), col("band"), col("sig").as("__sb")), Seq("doc_b", "band"))
      .groupBy("doc_a", "doc_b")
      .agg(sum(bit_count(col("__sa").bitwiseXOR(col("__sb")))).as("hamming"))
      .where(col("hamming") <= maxHamming)
  }

  /** (id, band, sig) SimHash band signatures — the candidate-join key
    * table. Package-private so specs can measure band-collision
    * candidate mass directly (the quantity the `numBits` dial
    * controls). */
  private[graft] def simhashBandSigs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3,
      numBits: Int = 64): DataFrame = {
    require(numBits % 64 == 0, s"numBits must be a multiple of 64, got $numBits")
    // pigeonhole needs at least maxHamming+1 bands (hamming ≤ m ⇒
    // ≥ bands−m of them exact ≥ 1); take the SMALLEST valid band
    // count at or above that so every maxHamming the 4×16 form served
    // (0..3) keeps working — e.g. maxHamming=2 at 64 bits gets 4
    // bands, maxHamming=0 gets 2 (one 64-bit band would overflow the
    // long sig)
    val bands = (maxHamming + 1 to numBits)
      .find(b => numBits % b == 0 && numBits / b <= 63)
      .getOrElse(throw new IllegalArgumentException(
        s"no band layout for numBits=$numBits, maxHamming=$maxHamming"))
    val words = numBits / 64
    // per-bit vote sums as aggregate COLUMNS (not exploded rows): the
    // map side partially aggregates per doc, so the shuffle carries
    // one row of numBits columns per document instead of numBits rows
    // per token. Bit j lives in word j/64; word 0 hashes the bare
    // token (byte-compatible with the original 64-bit form), word w>0
    // re-hashes with the word index as salt.
    val votes = (0 until numBits).map { j =>
      val w = j / 64
      sum(when(shiftrightunsigned(col(s"__h$w"), j % 64).bitwiseAND(lit(1L)) === 1L, 1)
        .otherwise(-1)).as(s"__v$j")
    }
    val hashed = docs
      .select(col(idCol), explode(split(col(textCol), " ")).as("__tok"))
      .withColumn("__h0", xxhash64(col("__tok")))
    val withWords = (1 until words).foldLeft(hashed)((df, w) =>
      df.withColumn(s"__h$w", xxhash64(lit(w), col("__tok"))))
    val sums = withWords.groupBy(col(idCol)).agg(votes.head, votes.tail: _*)

    val bandBits = numBits / bands
    val bandCols = (0 until bands).map { b =>
      (b * bandBits until (b + 1) * bandBits)
        .map(j => when(col(s"__v$j") > 0, lit(1L << (j - b * bandBits))).otherwise(lit(0L)))
        .reduce(_ + _)
        .as(s"__band$b")
    }
    val stackExpr = "stack(" + bands + ", " +
      (0 until bands).map(b => s"$b, __band$b").mkString(", ") + ") AS (band, sig)"
    sums
      .select(col(idCol) +: bandCols: _*)
      .select(col(idCol), expr(stackExpr))
  }

  /** The composed near-duplicate pipeline a training-data curation
    * pass actually runs: cheap LSH candidate generation → exact
    * Jaccard verification on candidates only → cluster formation →
    * one keeper per cluster.
    *
    * Clustering is iterative min-label propagation over the verified
    * pair graph (each round: label ← min(label, neighbors' labels));
    * near-dup clusters are shallow (dupes of a common source), so a
    * handful of rounds converges — `maxIters` bounds the work, and
    * each round is one join + one aggregation on the doc id. Returns
    * (doc_id, keeper_id, is_keeper) for every document.
    */
  def nearDupKeepers(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.8,
      maxIters: Int = 5): DataFrame = {
    // four consumers (minhash signatures, counts, both verification
    // join sides) — persist so the shingle scan runs once
    val sh = shingles(docs, idCol, textCol)
      .transform(graft.CacheScope.persisted(_))
    val cands = minhashLshFromShingles(sh, idCol).select("doc_a", "doc_b")
    val counts = sh.groupBy(col(idCol)).agg(count(lit(1)).as("__n"))
    // the verification join needs only shingle equality — feed it the
    // 64-bit hash projection (of the SAME persisted shingles, so the
    // minhash candidate stage is untouched): 8-byte join keys instead
    // of ~30-byte strings, identical intersection counts
    val shH = sh.select(col(idCol), xxhash64(col("shingle")).as("shingle"))
    val verified = jaccardThreshold(fullIntersection(cands, shH, idCol), counts, idCol, threshold)
      .select("doc_a", "doc_b")
    keepersFromEdges(docs, idCol, verified, maxIters)
  }

  /** Min-label connected-component clustering over an explicit
    * verified-pair edge list → one keeper per cluster. Factored out of
    * [[nearDupKeepers]] so the same clustering runs over ANY edge
    * source: LSH-verified candidates (the scale path) or the exact
    * [[ngramJaccardPairs]] edge set (fully deterministic, so the
    * keeper assignment is SQL-oracle-checkable via a recursive CTE).
    *
    * Each round does TWO label moves: neighbor propagation
    * (label ← min(own, neighbors' labels) — one join + one aggregation
    * on the doc id) and then a pointer jump (label ← label(label), the
    * label-doubling step): because every label value is itself a doc
    * id in the same component, following the label's own label
    * roughly doubles how far the component minimum has traveled each
    * round, so convergence is O(log diameter) instead of O(diameter).
    * A path of 200 near-dup docs (chained paraphrases at web scale
    * produce exactly these) converges in 8 rounds where one-hop
    * propagation needs 199 — the planted-chain spec in
    * OperatorInvariantsSpec pins this. The jump is skipped on round 1
    * so clique components (the common case, fixpoint after one
    * neighbor-min round) never pay for it; the convergence check
    * exits them early.
    * Returns (doc_id, keeper_id, is_keeper) for every document.
    */
  def keepersFromEdges(
      docs: DataFrame,
      idCol: String,
      verifiedPairs: DataFrame,
      maxIters: Int = 5): DataFrame = {
    // undirected edge list, both directions, for label propagation.
    // Persisted: every propagation round joins against it — without
    // this the final plan re-derives the whole candidate+verify
    // subtree once per iteration.
    val edges = verifiedPairs.select("doc_a", "doc_b")
      .unionByName(verifiedPairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
      .transform(graft.CacheScope.persisted(_))
    // MEASURED, REJECTED (r15-opt): restricting the iteration to the
    // edge-endpoint subgraph (labels only ever change for endpoint
    // nodes, so the per-round joins/sums could run over |endpoints|
    // instead of |docs|, with identity labels unioned back at the
    // end). At the gate scales the per-round ROW count is not the
    // cost — per-JOB fixed latency is — and the restriction adds an
    // endpoints distinct, a semi-join materialization, and a final
    // anti-join that re-executes per consumer: same-VM A/B at sf0.01,
    // q32 2.43 s → 3.45 s, q43 3.71 s → 3.91 s. On a cluster where
    // |docs| dwarfs |endpoints| the restriction is the right shape —
    // revisit if the all-docs round tables ever dominate a profile.
    var labels = docs.select(col(idCol), col(idCol).as("keeper_id"))
    // convergence detection: labels are per-node NON-INCREASING, so
    // for integral ids the label total strictly decreases until the
    // fixpoint — comparing two scalars replaces a per-round
    // anti-equality join. Fractional/string ids (where a truncating
    // cast could alias two labels) keep the exact join check.
    val integralIds = {
      import org.apache.spark.sql.types._
      docs.schema(idCol).dataType match {
        case ByteType | ShortType | IntegerType | LongType => true
        case _ => false
      }
    }
    def labelSum(df: DataFrame): java.math.BigDecimal = {
      val s = df.agg(sum(col("keeper_id").cast("decimal(38,0)")).as("s")).head().getDecimal(0)
      if (s == null) java.math.BigDecimal.ZERO else s // empty input sums to null
    }
    // baseline before the loop so a no-edge input converges on round 1
    var prevSum: java.math.BigDecimal = if (integralIds) labelSum(labels) else null
    var iter = 0
    var converged = false
    while (iter < maxIters && !converged) {
      val neighborMin = labels
        .join(edges, labels(idCol) === edges("doc_a"), "left")
        .join(
          labels.select(col(idCol).as("__nbr"), col("keeper_id").as("__nbr_label")),
          col("doc_b") === col("__nbr"), "left")
        .groupBy(col(idCol))
        .agg(least(min("keeper_id"), coalesce(min("__nbr_label"), min("keeper_id"))).as("keeper_id"))
        // truncate lineage each round (iterative-algorithm hygiene:
        // the plan would otherwise nest one join tree per iteration;
        // on a cluster use checkpoint() to reliable storage instead) —
        // and the pointer jump below consumes it twice
        .localCheckpoint()
      // pointer jump: label ← min(label, label(label)). Every label
      // value is a doc id (init + min-closure preserve this), so the
      // self-join always resolves; left join guards the degenerate
      // empty-input case. One extra equi-join per round buys O(log D)
      // total rounds. Skipped on round 1: clique-shaped components —
      // the overwhelmingly common near-dup case — reach their fixpoint
      // in one neighbor-min round, and the convergence check exits
      // before a jump could ever help them; chains still converge in
      // d ← 2d+2 steps from round 2 (a 200-path lands in 8 rounds).
      val propagated =
        if (iter == 0) neighborMin
        else neighborMin.as("x")
          .join(
            neighborMin.select(col(idCol).as("__lid"), col("keeper_id").as("__ll")).as("l"),
            col("x.keeper_id") === col("__lid"), "left")
          .select(
            col(s"x.$idCol").as(idCol),
            least(col("x.keeper_id"), coalesce(col("__ll"), col("x.keeper_id"))).as("keeper_id"))
          // checkpointed for the same reason as neighborMin: the
          // convergence sum AND the next round both consume it — the
          // jump join would otherwise re-execute per consumer
          .localCheckpoint()
      if (integralIds) {
        val curSum = labelSum(propagated)
        converged = prevSum.compareTo(curSum) == 0
        prevSum = curSum
      } else {
        converged = propagated.as("n")
          .join(labels.as("o"), Seq(idCol))
          .where(col("n.keeper_id") =!= col("o.keeper_id"))
          .isEmpty
      }
      labels = propagated
      iter += 1
    }
    labels.withColumn("is_keeper", col("keeper_id") === col(idCol))
  }

  /** SEMANTIC dedup — SemDeDup (Abbas et al., "SemDeDup: Data-
    * efficient learning at web-scale through semantic deduplication"):
    * k-means-cluster the embedding space, then prune near-duplicates
    * WITHIN each cluster by cosine, keeping one representative per
    * dup group. The scale argument is the clustering: the pair
    * workload drops from n² to Σ|cell|² — the trade the paper makes
    * is that a near-dup pair split across a cluster boundary is
    * missed, and that is the accepted semantics (choose kCells ~ √n).
    *
    * Built from VERIFIED pieces: the deterministic Lloyd loop
    * ([[Pq.trainCodebook]] at m=1 — stride seeds, 1e-6-rounded
    * centroids, argmin on (round(dist,6), code)) and the q26 cosine
    * parity (round(dot/(‖a‖‖b‖), 6) ≡ DuckDB list_cosine_similarity
    * rounded). The keep rule is deliberately NOT connected
    * components: a vector is dropped iff a LOWER-id in-cell neighbor
    * sits at cosine ≥ τ — one EXISTS per vector, engine-reproducible,
    * no iteration (q32's pointer jumping covers the transitive-
    * closure semantics when a pipeline wants it). Zero vectors have
    * no cosine; they are keepers by definition (both engines exclude
    * them from pair generation, the q26 posture).
    *
    * Returns every input id with (cell, is_keeper) — the keeper
    * predicate feeds a curation pipeline's semi-join, the dropped
    * complement is the review population. The whole chain sits under
    * the DuckDB hash gate (q141). */
  def semanticDedup(
      emb: DataFrame, idCol: String, vecCol: String,
      d: Int, kCells: Int, tau: Double): DataFrame = {
    graft.functions.GraftFunctions.register(emb.sparkSession)
    def dot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      call_function("graft_dot", a, b)
    val cb = Pq.trainCodebook(emb, idCol, vecCol, m = 1, dsub = d, k = kCells, iters = 2)
    val cells = Pq.assign(Pq.subVectors(emb, idCol, vecCol, 1, d), cb, idCol)
      .select(col(idCol), col("code").as("cell"))
    val e = emb
      .select(col(idCol), expr(s"transform($vecCol, x -> cast(x as double))").as("__e"))
      .withColumn("__norm", sqrt(dot(col("__e"), col("__e"))))
      .join(cells, Seq(idCol))
    val nz = e.where(col("__norm") > 0)
    val a = nz.select(col("cell"), col(idCol).as("__ida"),
      col("__e").as("__ea"), col("__norm").as("__na"))
    val b = nz.select(col("cell"), col(idCol).as("__idb"),
      col("__e").as("__eb"), col("__norm").as("__nb"))
    // the within-cell pair join: ONE equi-join on the cell key — the
    // quadratic mass is bounded per cell, never global
    val dominated = a.join(b, Seq("cell"))
      .where(col("__ida") < col("__idb") &&
        round(dot(col("__ea"), col("__eb")) / (col("__na") * col("__nb")), 6)
          >= tau)
      .select(col("__idb").as(idCol)).distinct()
    e.join(dominated.withColumn("__dom", lit(true)), Seq(idCol), "left")
      .select(col(idCol), col("cell"), col("__dom").isNull.as("is_keeper"))
  }

  /** VERBATIM-SPAN dedup — the substring-granular tier the document-
    * granular tiers above can't express (the "Deduplicating Training
    * Data Makes Language Models Better" shape): find every maximal
    * token span whose `n`-gram windows ALL recur verbatim in some
    * other document, per document. Document-level dedup keeps one of
    * two near-identical docs; span-level finds the boilerplate
    * header both docs share with a thousand others and measures how
    * much of each doc is duplicated text — the removal populations a
    * corpus curation pass actually edits.
    *
    * Plan, shuffle-bounded at every step: one corpus pass explodes
    * (doc, pos, 60-bit shingle hash) rows; the cross-doc test is one
    * hash-keyed groupBy (8-byte keys, map-side combined — never a
    * pair join); surviving positions (usually a small fraction)
    * semi-join back and merge to maximal islands via
    * [[graft.operators.Intervals.merge]] (adjacency=1 fuses touching
    * windows: positions p and p+n of one duplicated passage). Output
    * is one row per document WITH duplicated spans: total/dup token
    * counts, span count, dup fraction. The whole chain is md5-derived
    * and integer-exact, so it sits under the DuckDB hash gate
    * (q140) — no other dedup tier's DETECTOR is itself oracle-able
    * at the value level.
    *
    * Suffix-array implementations find spans ≥ n directly; the
    * shingle form finds the same spans as unions of length-n windows
    * (identical islands for any span ≥ n, nothing for shorter — the
    * standard trade for a shuffle-only distributed form). */
  def verbatimSpans(
      docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    require(n >= 2, s"shingle width must be ≥ 2, got $n")
    val toks = docs
      .select(col(idCol).as("doc_id"), split(col(textCol), " ").as("toks"))
      .withColumn("total_tokens", size(col("toks")))
      .where(col("total_tokens") >= n)
    // persisted: BOTH the recurrence aggregate and the span join
    // consume this — unpersisted, the tokenize + window-slice + md5
    // corpus pass (the query's dominant compute) ran twice per action
    // (guide §1.2: don't compute things twice). Scale caveat: the cache
    // is (doc, shingle)-grain — corpus-sized, growing linearly with the
    // corpus — so at large scale it pressures executor memory and
    // spills; the trade was measured at sf0.1 only. If it evicts, a
    // DISK_ONLY level or recomputing the pass is the fallback.
    val shingled = graft.CacheScope.persisted(toks
      .select(col("doc_id"), col("total_tokens"),
        posexplode(expr(
          s"transform(sequence(0, total_tokens - $n), i -> array_join(slice(toks, i + 1, $n), ' '))")))
      .select(col("doc_id"), col("total_tokens"), col("pos"),
        Overlap.contentHash(col("col")).as("h")))
    // cross-doc recurrence: one 8-byte-key shuffle, partial-aggregated
    val dupHashes = shingled.groupBy("h")
      .agg(count_distinct(col("doc_id")).as("nd"))
      .where(col("nd") >= 2).select("h")
    val dupPos = shingled.join(dupHashes, Seq("h"), "left_semi")
      .select(col("doc_id"), col("total_tokens"),
        col("pos").as("s"), (col("pos") + n - 1).as("e"))
    val islands = graft.operators.Intervals.merge(
      dupPos, Seq("doc_id", "total_tokens"), "s", "e", adjacency = 1)
    islands.groupBy("doc_id", "total_tokens")
      .agg(
        count(lit(1)).as("n_spans"),
        sum(col("e") - col("s") + 1).as("dup_tokens"))
      // size() is int32; present long so the cross-engine schema
      // (DuckDB len() = BIGINT) agrees without widening at compare
      .select(col("doc_id"), col("total_tokens").cast("long").as("total_tokens"),
        col("n_spans"), col("dup_tokens"),
        round(col("dup_tokens").cast("double") / col("total_tokens"), 6)
          .as("dup_frac"))
  }

  /** INCREMENTAL exact dedup against a PUBLISHED corpus — admit only
    * batch rows whose `keyCol` is not already in the corpus, WITHOUT
    * re-scanning the corpus. The daily-ingest shape at 100 TB: a
    * full anti-join re-shuffles the whole corpus's keys every batch;
    * this reads only the corpus files that CAN collide.
    *
    * Requires the corpus key-CLUSTERED with an `_fstats` manifest
    * over `keyCol` (the q103 rank-bucket layout on the dedup key is
    * the canonical producer): each file then covers a narrow key
    * range, and the batch's distinct keys bin-join
    * ([[graft.operators.RangeJoin.pointInInterval]], binWidth ≈ the
    * mean file span derived from the manifest) against the
    * \|files\|-row (min, max) intervals — cost ∝ \|batch\| +
    * \|files\|, never \|batch\|·\|files\| probes. Files with ≥1
    * in-range batch key (a driver-bounded file list — the
    * candidateFiles posture) are read back for the EXACT verify
    * anti-join, so range over-approximation only adds candidate
    * files, never a wrong row: the result is row-identical to the
    * full anti-join the oracle states (the q100 pruning-is-an-
    * optimization contract, applied to dedup). An arrival-ordered
    * corpus degrades gracefully — every file becomes a candidate and
    * the verify join IS the full anti-join (and q162's advisor would
    * tell you to re-cluster on the key). */
  def incrementalNew(
      spark: org.apache.spark.sql.SparkSession,
      corpusPath: String,
      batch: DataFrame,
      keyCol: String): DataFrame = {
    import graft.sources.FileStats
    val st = spark.read.parquet(FileStats.statsPath(corpusPath))
      .select(col("file"), col(s"min_$keyCol").cast("long").as("__lo"),
        col(s"max_$keyCol").cast("long").as("__hi"))
    val bounds = st.agg(min("__lo").as("lo"), max("__hi").as("hi"),
      count(lit(1)).as("nf")).collect()(0)
    if (bounds.isNullAt(0)) return batch // empty corpus: everything is new
    val span = math.max(1L, bounds.getLong(1) - bounds.getLong(0))
    val binWidth = math.max(1L, span / math.max(1L, bounds.getLong(2)))
    val keys = batch.select(col(keyCol)).distinct()
    val candidates = graft.operators.RangeJoin.pointInInterval(
        keys, st, keyCol, "__lo", "__hi", binWidth)
      .select("file").distinct().collect().map(_.getString(0))
    if (candidates.isEmpty) return batch
    // `file` carries the full URI (FileStats.candidateFiles' contract)
    val corpusSlice = spark.read.parquet(candidates: _*).select(col(keyCol))
    batch.join(corpusSlice, Seq(keyCol), "left_anti")
  }

  /** EDIT-DISTANCE near-dup verification — the exact character-level
    * verifier the fuzzy-dedup ladder tops out at (shingle Jaccard
    * treats a document as a token SET; Levenshtein is the one that
    * prices every insertion/deletion/substitution, catching the
    * templated-rewrite near-dups token sets miss). Candidates come
    * from a deterministic blocking key — (length bucket, first word,
    * last word) — and the exact DP kernel runs only within blocks;
    * in a production pass the block key is whatever candidate stage
    * precedes it (the MinHash/SimHash bands of q18/q19), this query
    * demonstrates the verify kernel with a key both engines can
    * replay. Similarity is integer-exact ppm:
    * 1e6 − ⌊lev·1e6 / max(len_a, len_b)⌋.
    *
    * Scale shape: one narrow keying pass, one equi-join that
    * hash-partitions on the block key (text bytes shuffle once,
    * bounded by block fan-out), the DP kernel is Spark's codegen'd
    * `levenshtein` — no UDF. The quadratic is bounded STRUCTURALLY:
    * blocks over `maxBlock` members are dropped whole (the q17 max-df
    * discipline) — a block that big is a clone/boilerplate family,
    * exactly the shape the upstream banding stages exist to shred,
    * and pricing its every pair here would be O(block²) work the
    * verify stage must never sign up for. The cap showed up in
    * anger on the 3× clone-heavy sweep corpus: uncapped, its clone
    * families drove 53× pair growth (116 s); capped, the pair count
    * tracks the corpus (PLANS.md r14). */
  def editNearDupPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      lenBucket: Int,
      minSimPpm: Long,
      maxBlock: Int = 8): DataFrame = {
    val keyed0 = docs.select(
      col(idCol).as("__id"), col(textCol).as("__text"),
      expr(s"length($textCol) div $lenBucket").as("__lb"),
      element_at(split(col(textCol), " "), 1).as("__w0"),
      element_at(split(col(textCol), " "), -1).as("__wl"))
    // df-cap on the block grain: one aggregate + one equi-join, both
    // partitioned by the same block key the pair join shuffles on
    val small = keyed0
      .groupBy("__lb", "__w0", "__wl")
      .agg(count(lit(1)).as("__bn"))
      .where(col("__bn") <= maxBlock)
      .select("__lb", "__w0", "__wl")
    val keyed = keyed0.join(small, Seq("__lb", "__w0", "__wl"))
    val a = keyed.select(col("__id").as("doc_a"), col("__text").as("__ta"),
      col("__lb"), col("__w0"), col("__wl"))
    val b = keyed.select(col("__id").as("doc_b"), col("__text").as("__tb"),
      col("__lb"), col("__w0"), col("__wl"))
    a.join(b, Seq("__lb", "__w0", "__wl"))
      .where(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        levenshtein(col("__ta"), col("__tb")).cast("long").as("lev"),
        greatest(length(col("__ta")), length(col("__tb"))).as("__mx"))
      .withColumn("sim_ppm",
        expr("1000000 - (lev * 1000000) div greatest(cast(__mx as bigint), 1)"))
      .where(col("sim_ppm") >= minSimPpm)
      .select("doc_a", "doc_b", "lev", "sim_ppm")
      .orderBy("doc_a", "doc_b")
  }
}
