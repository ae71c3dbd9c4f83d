package graft

import org.apache.spark.sql.functions._

import graft.tools.Scratch

/** Targeted semantic invariants per operator family — the properties
  * the reference pipelines rely on, asserted directly (value-level
  * equality vs DuckDB is the driver gate's job). */
class OperatorInvariantsSpec extends SparkSpec {

  test("q3: running balance telescopes to the sum of net transfers") {
    val df = SparkEntry.q3RunningBalance(spark, SfDir)
    val bad = df
      .groupBy("asset", "wallet")
      .agg(
        abs(sum("net_transfers") - max_by(col("balance"), col("date"))).as("err"),
        max("transfer_sequence").as("maxseq"),
        count(lit(1)).as("n"))
      .where(col("err") > 1e-4 || col("maxseq") =!= col("n"))
      .count()
    assert(bad == 0)
  }

  test("q4: gap-fill leaves no missing dates and marks imputed rows") {
    val df = SparkEntry.q4GapFill(spark, SfDir).cache()
    val perAsset = df
      .groupBy("asset")
      .agg(count(lit(1)).as("n"), min("date").as("d0"), max("date").as("d1"))
      .withColumn("span", datediff(col("d1"), col("d0")) + 1)
      .where(col("n") =!= col("span"))
    assert(perAsset.count() == 0, "calendar has holes")
    assert(df.where(col("days_imputed").isNotNull && col("volume") =!= 0).count() == 0,
      "imputed rows must carry zero volume")
    df.unpersist()
  }

  test("GapFill.fill generalizes the grain: weekly lattice fills, bad grain throws") {
    import graft.operators.GapFill
    val sess = spark
    import sess.implicits._
    def d(s: String) = java.sql.Date.valueOf(s)
    // weeks of Jan 1 and Jan 15 observed; Jan 8 missing
    val weekly = Seq(("a", d("2024-01-01"), 1.0), ("a", d("2024-01-15"), 3.0))
      .toDF("asset", "week", "close")
    val filled = GapFill.fill(weekly, Seq("asset"), "week",
      ffillCols = Seq("close"), zeroCols = Nil, grain = "week")
      .orderBy("week").collect()
    assert(filled.map(_.getDate(1).toString).toSeq ==
      Seq("2024-01-01", "2024-01-08", "2024-01-15"),
      "weekly lattice must step 7 days, no daily explosion")
    assert(filled(1).getDouble(2) == 1.0, "missing week forward-fills the close")
    assert(filled(1).getAs[Number]("periods_imputed").intValue == 1)
    assert(filled(0).isNullAt(3) && filled(2).isNullAt(3),
      "observed weeks must not be marked imputed")
    intercept[IllegalArgumentException] {
      GapFill.fill(weekly, Seq("asset"), "week", Seq("close"), Nil, grain = "fortnight")
    }
  }

  test("q16: exact-dedupe copy counts partition the corpus") {
    val total = Tables.documents(spark, SfDir).count()
    val agg = SparkEntry.q16DedupExact(spark, SfDir).agg(sum("n_copies")).head.getLong(0)
    assert(agg == total)
  }

  test("q17: jaccard pairs are ordered and above threshold") {
    val df = SparkEntry.q17DedupNgramJaccard(spark, SfDir)
    assert(df.where(col("doc_a") >= col("doc_b") || col("jaccard") < 0.8).count() == 0)
    assert(df.count() > 0, "synthetic corpus plants near-duplicates")
  }

  test("q17 maxDf: planted ubiquitous stop-phrase shingles leave the pair set unchanged") {
    import graft.similarity.Dedup
    // plant an 8-word header in EVERY document: its interior 3-gram
    // shingles get df == corpus size, the exact hot-key shape that
    // makes an uncapped inverted-index join quadratic in one shuffle key
    val docs = Tables.documents(spark, SfDir)
      .withColumn("text",
        concat(lit("common header phrase planted in every single document "), col("text")))
    val nDocs = docs.count()
    val maxDfSeen = Dedup.shingles(docs, "doc_id", "text", 3)
      .groupBy("shingle").agg(count(lit(1)).as("df"))
      .agg(max("df")).head.getLong(0)
    assert(maxDfSeen == nDocs, "planted shingle must be ubiquitous")
    val uncapped = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.8)
    val capped = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.8, maxDf = 20)
    assert(uncapped.count() > 0, "synthetic corpus plants near-duplicates")
    // candidate generation skips the df>20 shingles entirely, yet the
    // full-intersection verify reproduces the EXACT uncapped result —
    // same pairs, same jaccard values
    assert(capped.exceptAll(uncapped).count() == 0 && uncapped.exceptAll(capped).count() == 0,
      "df-capped pair set diverges from the uncapped result")
  }

  test("q61 maxDf: planted stopword header bounds the hot join; found pairs keep exact counts") {
    import graft.similarity.Dedup
    // plant an 8-word header in EVERY doc: its 6 interior 3-gram
    // shingles get df == corpus size on the train side — the hot-key
    // shape that floods the bipartite join at small n. A guaranteed
    // contaminated pair is planted by cloning an eval doc into train.
    val docs = Tables.documents(spark, SfDir)
      .withColumn("text",
        concat(lit("common header phrase planted in every single document "), col("text")))
      .select("doc_id", "text")
    val ev = docs.where(col("doc_id") % 20 === 0)
    val clone = ev.orderBy("doc_id").limit(1)
      .select((col("doc_id") + 999999L).as("doc_id"), col("text"))
    val train = docs.where(col("doc_id") % 20 =!= 0).unionByName(clone)

    // minShared=10 sits ABOVE the 6 header shingles: every qualifying
    // pair needs ≥4 genuinely-shared (rare) shingles, so the capped
    // path must reproduce the uncapped result EXACTLY
    val uncapped = Dedup.decontaminate(train, ev, "doc_id", "text", n = 3, minShared = 10)
    val capped = Dedup.decontaminate(train, ev, "doc_id", "text", n = 3,
      minShared = 10, maxDf = 20)
    assert(uncapped.count() > 0, "planted clone must contaminate")
    assert(capped.exceptAll(uncapped).count() == 0 && uncapped.exceptAll(capped).count() == 0,
      "df-capped decontaminate diverges where minShared exceeds the hot overlap")

    // residual contract at minShared ≤ header overlap: the uncapped
    // join admits EVERY (train, eval) pair via the 6 hot shingles;
    // the capped path keeps only pairs with ≥1 rare shared shingle —
    // but every pair it keeps carries its exact uncapped count
    val uncapped5 = Dedup.decontaminate(train, ev, "doc_id", "text", n = 3, minShared = 5)
    val capped5 = Dedup.decontaminate(train, ev, "doc_id", "text", n = 3,
      minShared = 5, maxDf = 20)
    assert(uncapped5.count() == train.count() * ev.count(),
      "hot header must put every pair over an un-capped minShared=5")
    assert(capped5.count() < uncapped5.count(),
      "capped path must drop the stopword-only pairs (documented residual)")
    val joined = capped5.as("c").join(uncapped5.as("u"), Seq("train_doc", "eval_doc"))
    assert(joined.count() == capped5.count(), "capped pairs must be a subset")
    assert(joined.where(col("c.shared_shingles") =!= col("u.shared_shingles")).count() == 0,
      "a found pair's count must include the hot shingles exactly")
  }

  test("q91: priority sample is the exact top-k, scale-invariant, with a threshold estimator") {
    val df = SparkEntry.q91PrioritySample(spark, SfDir).cache()
    val k = 10

    // exactly min(k, |source|) rows per source
    val docs = Tables.documents(spark, SfDir)
    val sizes = docs.groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = df.groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.keySet == sizes.keySet)
    got.foreach { case (s, n) => assert(n == math.min(k, sizes(s)), s"source $s: $n rows") }

    // the kept set IS the top-k by the declared priority: no dropped
    // doc outranks a kept doc within its source (re-derived)
    val pr = docs.select(col("doc_id"), col("source"),
        (greatest(col("n_chars"), lit(1L)).cast("double") * lit(1000000.0d) /
          ((((col("doc_id") % 1000003L) * 2654435761L) % 1000000L) + 1L)
            .cast("double")).as("p"))
    val minKept = df.groupBy("source").agg(min("priority").as("floor"))
    val outranked = pr
      .join(df.select("source", "doc_id").withColumn("__kept", lit(1)),
        Seq("source", "doc_id"), "left")
      .where(col("__kept").isNull)
      .join(minKept, Seq("source"))
      .where(col("p") > col("floor"))
    assert(outranked.count() == 0, "a dropped doc outranks a kept one")

    // estimator shape: est >= weight always; where a (k+1)-th priority
    // exists, every kept priority exceeds tau (strict: rk ties broke
    // by doc_id, priority ties cannot occur with distinct doc_id mixes)
    assert(df.where(col("est_weight") < col("weight").cast("double")).count() == 0)

    // determinism: a fresh evaluation selects the identical sample
    val rerun = SparkEntry.q91PrioritySample(spark, SfDir)
      .select("source", "doc_id").collect().map(_.toString).sorted.toSeq
    val base = df.select("source", "doc_id").collect().map(_.toString).sorted.toSeq
    assert(rerun == base, "re-run changed the sample (determinism)")

    // weight-scale invariance: priority is linear in w, so scaling
    // every weight by a constant must select the SAME docs — the
    // ranking depends only on relative weights, a property the
    // estimator story relies on
    def sampleIds(weight: org.apache.spark.sql.Column): Seq[String] = {
      val p = docs.select(col("doc_id"), col("source"),
        (weight.cast("double") * lit(1000000.0d) /
          ((((col("doc_id") % 1000003L) * 2654435761L) % 1000000L) + 1L)
            .cast("double")).as("p"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy(col("p").desc, col("doc_id").asc)
      p.withColumn("rk", row_number().over(w)).where(col("rk") <= k)
        .select("source", "doc_id").collect().map(_.toString).sorted.toSeq
    }
    assert(sampleIds(greatest(col("n_chars"), lit(1L))) ==
      sampleIds(greatest(col("n_chars"), lit(1L)) * 3),
      "scaling all weights changed the selected sample")
    df.unpersist(): Unit
  }

  test("q90: bloom pruning changes shuffle mass, never the pair set") {
    import graft.similarity.Dedup
    val docs = Tables.documents(spark, SfDir).select("doc_id", "text")
    val train = docs.where(col("doc_id") % 20 =!= 0)
    val ev = docs.where(col("doc_id") % 20 === 0)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq

    val exact = rows(Dedup.decontaminate(train, ev, "doc_id", "text", n = 3, minShared = 5))
    assert(exact.nonEmpty, "fixture must contain contaminated pairs")
    // production fpp AND an absurd fpp that forces false positives
    // through the filter — the exact join must kill them all
    Seq(0.01, 0.5).foreach { fpp =>
      val got = rows(Dedup.decontaminateBloom(
        train, ev, "doc_id", "text", n = 3, minShared = 5, fpp = fpp))
      CacheScope.releaseAll(spark): Unit
      assert(got == exact, s"bloom path diverged from exact at fpp=$fpp")
    }

    // the probe itself: no false negatives (every genuinely shared
    // hash tests positive), real pruning (most non-shared train
    // shingles test negative at fpp=0.01), deterministic bytes
    val ts = Dedup.shingles(train, "doc_id", "text", 3)
      .select(xxhash64(col("shingle")).as("__h"))
    val es = Dedup.shingles(ev, "doc_id", "text", 3)
      .select(xxhash64(col("shingle")).as("__h"))
    graft.functions.GraftFunctions.register(spark)
    def buildFilter(): Array[Byte] = es
      .agg(call_function("graft_bloom_agg", col("__h"), lit(es.count()), lit(0.01)))
      .head.getAs[Array[Byte]](0)
    val filter = buildFilter()
    assert(java.util.Arrays.equals(filter, buildFilter()),
      "filter bytes must be build-deterministic (bitwise-OR merge)")
    val probed = ts.where(
      call_function("graft_bloom_contains", lit(filter), col("__h")))
    val shared = ts.join(es, Seq("__h"), "left_semi")
    assert(probed.count() >= shared.count(),
      "bloom filters must never produce a false negative")
    assert(shared.join(probed, Seq("__h"), "left_anti").count() == 0,
      "a genuinely shared hash tested negative")
    val total = ts.count()
    assert(probed.count() < total / 2,
      s"filter pruned ${total - probed.count()} of $total — no real pruning happened")
  }

  test("q17 maxDf: an identical-doc cluster larger than the cap keeps all its pairs") {
    import graft.similarity.Dedup
    // 30 byte-identical docs: every shingle they contain has df=30 >
    // maxDf=20, so WITHOUT the content-hash rescue the capped path
    // would emit zero pairs for dedup's primary target
    val clones = spark.range(30)
      .selectExpr("id + 1000000 AS doc_id",
        "'alpha beta gamma delta epsilon zeta eta theta iota kappa' AS text")
    val corpus = Tables.documents(spark, SfDir).select("doc_id", "text").unionByName(clones)
    val capped = Dedup.ngramJaccardPairs(corpus, "doc_id", "text",
      n = 3, threshold = 0.8, maxDf = 20).cache()
    val clonePairs = capped.where(col("doc_a") >= 1000000 && col("doc_b") >= 1000000)
    assert(clonePairs.count() == 30L * 29 / 2, "identical cluster lost pairs under the cap")
    assert(clonePairs.where(col("jaccard") =!= 1.0).count() == 0)
    // and the full result still equals the uncapped computation
    val uncapped = Dedup.ngramJaccardPairs(corpus, "doc_id", "text", n = 3, threshold = 0.8)
    assert(capped.exceptAll(uncapped).count() == 0 && uncapped.exceptAll(capped).count() == 0)
    capped.unpersist()
  }

  test("q18/q19: LSH candidates recover most true near-duplicate pairs") {
    val truth = SparkEntry.q17DedupNgramJaccard(spark, SfDir).select("doc_a", "doc_b")
    val nTruth = truth.count()
    val minhash = SparkEntry.q18DedupMinhash(spark, SfDir).select("doc_a", "doc_b")
    val simhash = SparkEntry.q19DedupSimhash(spark, SfDir).select("doc_a", "doc_b")
    assert(minhash.join(truth, Seq("doc_a", "doc_b")).count() >= (nTruth * 8) / 10,
      "minhash recall below 80%")
    // simhash hamming<=3 is a tighter notion of "near" than jaccard>=0.8
    // (a few swapped words can flip >3 bits), so expect lower recall
    assert(simhash.join(truth, Seq("doc_a", "doc_b")).count() >= (nTruth * 7) / 10,
      "simhash recall below 70%")
  }

  test("simhash width: 32-bit bands collapse random candidate mass, keep true near-dups") {
    // 1200 mutually-dissimilar random docs (drawn from a wide vocab,
    // so fingerprints are ~independent) + 40 planted near-dup pairs.
    // 16-bit bands expect 4·(n choose 2)/2^16 ≈ 44 random band
    // collisions; 32-bit bands expect ~0.0007 — the numBits dial is
    // exactly this collapse.
    // duplicates are EXACT copies: hamming 0 at ANY width, so recall
    // is deterministic for both operating points — a 1-token edit
    // already flips ~8 of 64 bits at these doc lengths (hamming ≤ 3
    // means ~99% token overlap; the graded-similarity behavior is
    // covered by the q18/q19 recall specs on the real corpus)
    val rnd = new scala.util.Random(11)
    def randDoc(): String = Seq.fill(40)("t" + rnd.nextInt(500000)).mkString(" ")
    val base = (0 until 1200).map(i => (i.toLong, randDoc()))
    val dups = (0 until 40).map(i => ((2000 + i).toLong, base(i)._2))
    val sess = spark
    import sess.implicits._
    val docs = (base ++ dups).toDF("doc_id", "text")
    def randomCollisions(bits: Int): Long = {
      val sigs = graft.similarity.Dedup
        .simhashBandSigs(docs, "doc_id", "text", maxHamming = 3, numBits = bits)
      sigs.as("a").join(sigs.as("b"),
          col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
            col("a.doc_id") < col("b.doc_id"))
        // exclude the planted pairs: what's left is pure random mass
        .where(col("b.doc_id") - col("a.doc_id") =!= 2000L)
        .count()
    }
    val c64 = randomCollisions(64)
    val c128 = randomCollisions(128)
    assert(c64 > 0, "degenerate: no random band collisions at 64 bits on 1200 docs")
    assert(c128 * 10 < c64,
      s"wide bands did not collapse random candidate mass: 64-bit=$c64, 128-bit=$c128")
    // recall: every planted near-dup pair survives BOTH widths
    for (bits <- Seq(64, 128)) {
      val pairs = graft.similarity.Dedup
        .simhashPairs(docs, "doc_id", "text", maxHamming = 3, numBits = bits)
        .where(col("doc_b") - col("doc_a") === 2000L)
      assert(pairs.count() == 40, s"missing planted near-dups at $bits bits")
    }
    // domain: every maxHamming the fixed 4×16 layout served still
    // resolves to a valid band layout at the default width
    for (m <- Seq(0, 1, 2)) {
      assert(graft.similarity.Dedup
        .simhashPairs(docs.limit(50), "doc_id", "text", maxHamming = m).count() >= 0)
    }
  }

  test("q19: hamming bounded by threshold, pairs ordered") {
    val df = SparkEntry.q19DedupSimhash(spark, SfDir)
    assert(df.where(col("hamming") > 3 || col("doc_a") >= col("doc_b")).count() == 0)
  }

  test("q20: exactly k ranked neighbors per vector, cosine within [-1, 1]") {
    val df = SparkEntry.q20KnnCosine(spark, SfDir).cache()
    val n = Tables.embeddings(spark, SfDir).count()
    assert(df.count() == n * 5)
    assert(df.where(col("rank") < 1 || col("rank") > 5).count() == 0)
    assert(df.where(abs(col("cosine")) > 1.000001).count() == 0)
    df.unpersist()
  }

  test("q21: LSH top-1 agrees with brute force for most vectors") {
    val bf = SparkEntry.q20KnnCosine(spark, SfDir).where(col("rank") === 1)
      .select(col("vec_id"), col("neighbor_id").as("bf_nn"))
    val lsh = SparkEntry.q21LshKnn(spark, SfDir).where(col("rank") === 1)
      .select(col("vec_id"), col("neighbor_id").as("lsh_nn"))
    val joined = bf.join(lsh, Seq("vec_id"))
    val agree = joined.where(col("bf_nn") === col("lsh_nn")).count()
    // multi-table LSH on loosely-clustered synthetic data: expect
    // strong but not exact agreement — guards against a broken bucketer
    assert(agree * 100 >= joined.count() * 50, s"LSH top-1 agreement too low: $agree")
  }

  test("q31: IVF top-1 agrees with brute force for most vectors") {
    val bf = SparkEntry.q20KnnCosine(spark, SfDir).where(col("rank") === 1)
      .select(col("vec_id"), col("neighbor_id").as("bf_nn"))
    val ivf = SparkEntry.q31IvfKnn(spark, SfDir).where(col("rank") === 1)
      .select(col("vec_id"), col("neighbor_id").as("ivf_nn"))
    val joined = bf.join(ivf, Seq("vec_id"))
    assert(joined.count() == bf.count(), "IVF must return a top-1 for every vector")
    val agree = joined.where(col("bf_nn") === col("ivf_nn")).count()
    assert(agree * 100 >= joined.count() * 50, s"IVF top-1 agreement too low: $agree")
  }

  test("q47/q48: salted skew join equals the plain join on the planted hot key") {
    val salted = SparkEntry.q47SkewJoinSalted(spark, SfDir)
    val plain = SparkEntry.q48SkewJoinPlain(spark, SfDir)
    assert(salted.count() > 0)
    assert(salted.exceptAll(plain).count() == 0 && plain.exceptAll(salted).count() == 0,
      "salting changed the join result under planted skew")
  }

  test("salted join equals the plain join") {
    import graft.operators.Salting
    val t = Tables.transfers(spark, SfDir)
    val dim = Tables.transfers(spark, SfDir)
      .groupBy("asset").agg(count(lit(1)).as("asset_rows"))
    val plain = t.join(dim, Seq("asset"))
    val salted = Salting.saltedJoin(t, dim, Seq("asset"), salts = 8)
    assert(salted.count() == plain.count())
    assert(salted.exceptAll(plain).count() == 0 && plain.exceptAll(salted).count() == 0)
  }

  test("q23: ppm ratios stay in [0, 1e6] and score is their combination") {
    val df = SparkEntry.q23QualityScore(spark, SfDir)
    val bad = df.where(
      col("alpha_ppm") < 0 || col("alpha_ppm") > 1000000 ||
        col("stopword_ppm") < 0 || col("stopword_ppm") > 1000000 ||
        col("quality_score_ppm") =!= expr(
          """(alpha_ppm * 4 + stopword_ppm * 3
            | + (1000000 - digit_ppm) * 2 + (1000000 - punct_ppm)) div 10""".stripMargin))
    assert(bad.count() == 0)
  }

  test("q32: near-dup keepers cover every doc and collapse verified pairs") {
    val keepers = SparkEntry.q32NearDupKeepers(spark, SfDir).cache()
    val nDocs = Tables.documents(spark, SfDir).count()
    assert(keepers.count() == nDocs, "one row per document")
    // every jaccard-verified pair that minhash recalled must share a keeper
    val truth = SparkEntry.q17DedupNgramJaccard(spark, SfDir).select("doc_a", "doc_b")
    val recalled = SparkEntry.q18DedupMinhash(spark, SfDir)
      .join(truth, Seq("doc_a", "doc_b")).select("doc_a", "doc_b")
    val split = recalled
      .join(keepers.select(col("doc_id").as("doc_a"), col("keeper_id").as("ka")), Seq("doc_a"))
      .join(keepers.select(col("doc_id").as("doc_b"), col("keeper_id").as("kb")), Seq("doc_b"))
      .where(col("ka") =!= col("kb"))
      .count()
    assert(split == 0, "verified near-dup pair ended in different clusters")
    keepers.unpersist()
  }

  test("keepersFromEdges: a 200-doc chain converges within 10 rounds (pointer jumping)") {
    // path graph 1–2–…–200: eccentricity 199, the worst case for
    // one-hop propagation (needs 199 rounds; silently mis-clusters at
    // maxIters=10). The pointer-jump step must collapse it in ~8:
    // round 1 is neighbor-min only (d=1), then d ← 2d+2 (one neighbor
    // hop + label(label)) — 4, 10, 22, 46, 94, 190, 382 ≥ 199.
    val sess = spark
    import sess.implicits._
    val n = 200
    val docs = (1 to n).map(_.toLong).toDF("doc_id")
    val edges = (1 until n).map(i => (i.toLong, (i + 1).toLong)).toDF("doc_a", "doc_b")
    val keepers = graft.similarity.Dedup.keepersFromEdges(docs, "doc_id", edges, maxIters = 10)
    val offMin = keepers.where(col("keeper_id") =!= 1L).count()
    assert(offMin == 0, s"$offMin of $n chain docs did not reach the component minimum")
    assert(keepers.where(col("is_keeper")).count() == 1)
  }

  test("extractMetadata decodes REAL PNG payloads: true dims + pixel checksum, stub untouched") {
    // build a real 5×3 PNG in-memory with deterministic pixels
    val img = new java.awt.image.BufferedImage(5, 3, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 3; x <- 0 until 5) img.setRGB(x, y, x * 40 + y * 8000 + 123)
    val baos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "png", baos))
    val png = baos.toByteArray
    // the checksum the kernel must reproduce from DECODED pixels
    // (TYPE_INT_RGB getRGB carries opaque alpha: 0xff000000 | rgb)
    var want = 0L
    for (y <- 0 until 3; x <- 0 until 5)
      want = (want * 131 + (img.getRGB(x, y) & 0xffffffffL)) % 1000000007L
    val sess = spark
    import sess.implicits._
    val media = Seq(
      (1L, "image", png),                          // real PNG → real decode
      (2L, "image", "not an image".getBytes("UTF-8")), // sniff fails → stub
      (3L, "audio", png)                           // wrong modality → stub
    ).toDF("doc_id", "media_type", "payload")
    val meta = graft.multimodal.Multimodal.extractMetadata(media)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(meta(1L).getInt(3) == 5 && meta(1L).getInt(4) == 3, "decoded dims wrong")
    assert(meta(1L).getLong(5) == want, "pixel checksum does not match decoded raster")
    assert(meta(1L).getInt(2) == png.length)
    // stub path: dims derived from length, checksum over raw bytes
    val n2 = "not an image".getBytes("UTF-8").length
    assert(meta(2L).getInt(3) == 16 + n2 % 64 && meta(2L).getInt(4) == 16 + (n2 / 64) % 64)
    assert(meta(3L).getInt(3) == 16 + png.length % 64, "audio must not take the image codec")
  }

  test("extractAudioMetadata decodes a REAL synthesized WAV; mixed corpus stays total") {
    import javax.sound.sampled.{AudioFormat, AudioInputStream, AudioSystem, AudioFileFormat}
    // synthesize 1600 frames of 16-bit mono PCM at 8 kHz (deterministic
    // sawtooth), container-encoded as WAV entirely in the JDK
    val rate = 8000f
    val nFrames = 1600
    val pcm = new Array[Byte](nFrames * 2)
    for (i <- 0 until nFrames) {
      val v = ((i % 256) - 128) * 100
      pcm(2 * i) = (v & 0xff).toByte
      pcm(2 * i + 1) = ((v >> 8) & 0xff).toByte
    }
    val fmt = new AudioFormat(rate, 16, 1, true, false)
    val ais = new AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, nFrames.toLong)
    val baos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(ais, AudioFileFormat.Type.WAVE, baos)
    val wav = baos.toByteArray

    val sess = spark
    import sess.implicits._
    val media = Seq(
      (1L, "audio", wav),                               // real WAV → real decode
      (2L, "audio", "definitely not audio".getBytes("UTF-8")), // sniff fails → stub
      (3L, "image", wav)                                // wrong modality → excluded
    ).toDF("doc_id", "media_type", "payload")
    val got = graft.multimodal.Multimodal.extractAudioMetadata(media)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(got.keySet == Set(1L, 2L), "audio pass must keep exactly the audio rows")
    val real = got(1L)
    assert(real.getInt(2) == 8000 && real.getInt(3) == 1 && real.getInt(4) == 16,
      s"decoded WAV format wrong: $real")
    assert(real.getLong(5) == nFrames.toLong, "frame count must come from the container")
    assert(real.getLong(6) == nFrames.toLong * 1000000L / 8000L, "duration math wrong")
    assert(real.getBoolean(7), "real WAV must be flagged decoded")
    assert(!got(2L).getBoolean(7), "non-audio bytes must take the stub")
    // stub values are deterministic functions of payload length
    val n2 = "definitely not audio".getBytes("UTF-8").length
    assert(got(2L).getInt(2) == 8000 + (n2 % 8) * 1000)
  }

  test("audio containers with NOT_SPECIFIED header length never emit negative frames/duration") {
    // AU container with dataSize = 0xffffffff ("unknown" per the AU
    // spec): .snd magic, header size 24, unknown size, encoding 3
    // (16-bit linear PCM), rate 8000, mono — parses as audio, but the
    // header declares no length, the AudioSystem.NOT_SPECIFIED path
    val bos = new java.io.ByteArrayOutputStream()
    val dos = new java.io.DataOutputStream(bos)
    dos.writeBytes(".snd"); dos.writeInt(24); dos.writeInt(-1)
    dos.writeInt(3); dos.writeInt(8000); dos.writeInt(1)
    (0 until 64).foreach(i => dos.writeShort(i * 100))
    val au = bos.toByteArray

    val sess = spark
    import sess.implicits._
    val media = Seq((1L, "audio", au)).toDF("doc_id", "media_type", "payload")
    val row = graft.multimodal.Multimodal.extractAudioMetadata(media).collect().head
    // whichever path it takes (real decode if the reader derives a
    // length, stub if the header is treated as incomplete), the
    // emitted metadata must be sane — never n_frames=-1 or a negative
    // duration flagged as decoded
    assert(row.getLong(5) >= 0L, s"negative n_frames: $row")
    assert(row.getLong(6) >= 0L, s"negative duration_us: $row")
  }

  test("q64: audio metadata is deterministic and total over the audio slice") {
    val media = graft.multimodal.Multimodal
      .asMediaTable(Tables.documents(spark, SfDir), "doc_id", "text")
    val nAudio = media.where(col("media_type") === "audio").count()
    val a = SparkEntry.q64AudioMeta(spark, SfDir)
    val b = SparkEntry.q64AudioMeta(spark, SfDir)
    assert(a.count() == nAudio, "q64 must cover every audio row exactly once")
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
  }

  test("q27: metadata extraction (real AVI video + stubbed image/audio) is deterministic and total") {
    val a = SparkEntry.q27MultimodalMeta(spark, SfDir)
    val b = SparkEntry.q27MultimodalMeta(spark, SfDir)
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
    assert(a.count() == Tables.documents(spark, SfDir).count())
  }

  test("multimodal resize/frame-sample: exact output shapes, deterministic") {
    import graft.multimodal.Multimodal
    val media = Multimodal.asMediaTable(Tables.documents(spark, SfDir), "doc_id", "text")

    val resized = Multimodal.resize(media, width = 8, height = 6).cache()
    assert(resized.count() == media.count(), "resize must be total")
    assert(resized.where(length(col("payload")) =!= 8 * 6).count() == 0,
      "resized payload must be exactly width*height bytes")

    val frames = SparkEntry.q46FrameSample(spark, SfDir).cache()
    val nVideos = media.where(col("media_type") === "video").count()
    assert(nVideos > 0)
    // 4 frames per video (docs are longer than 4 bytes), dense indices
    assert(frames.count() == nVideos * 4)
    val badDocs = frames.groupBy("doc_id")
      .agg(count(lit(1)).as("n"), max("frame_idx").as("mx"), min("frame_idx").as("mn"))
      .where(col("n") =!= 4 || col("mx") =!= 3 || col("mn") =!= 0)
    assert(badDocs.count() == 0, "frame indices must be dense 0..3 per video")
    // deterministic: a rerun reproduces every checksum
    val again = SparkEntry.q46FrameSample(spark, SfDir)
    assert(frames.exceptAll(again).count() == 0 && again.exceptAll(frames).count() == 0)
    resized.unpersist(); frames.unpersist()
  }

  test("semanticDedup: hand panel — within-cluster domination, cross-cluster blindness, zero-vector keeper") {
    import graft.similarity.Dedup
    val sess = spark
    import sess.implicits._
    // seeds are the 2 smallest ids → id1 seeds cluster A, id2 cluster
    // B; 3≈1 and 4≈2 must be dominated; 5 sits near A's axis but
    // BELOW τ of id1; 6 is the zero vector (no cosine — keeper)
    val vecs = Seq(
      (1L, Array(1f, 0f, 0f, 0f)),
      (2L, Array(0f, 1f, 0f, 0f)),
      (3L, Array(0.99f, 0.05f, 0f, 0f)),
      (4L, Array(0.02f, 0.97f, 0f, 0f)),
      (5L, Array(0.6f, 0f, 0.8f, 0f)),
      (6L, Array(0f, 0f, 0f, 0f))
    ).toDF("vec_id", "embedding")
    val got = Dedup.semanticDedup(vecs, "vec_id", "embedding",
        d = 4, kCells = 2, tau = 0.9)
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getBoolean(2)))).toMap
    assert(got.keySet == (1L to 6L).toSet)
    // same cell for each near-dup pair; dominated = higher id
    assert(got(1L)._1 == got(3L)._1 && got(2L)._1 == got(4L)._1)
    assert(got(1L)._2 && got(2L)._2, "cluster representatives keep")
    assert(!got(3L)._2 && !got(4L)._2, s"near-dups must be dominated: $got")
    // 5's cosine to 1 is 0.6 < τ — kept despite sharing a cell
    assert(got(5L)._2, s"below-threshold member wrongly dominated: $got")
    assert(got(6L)._2, "zero vector has no cosine — keeper by definition")
    // domination is cell-LOCAL: re-run with τ low enough that 1 and 2
    // would pair globally (cos(1,2)=0) — still keepers, different cells
    val loose = Dedup.semanticDedup(vecs, "vec_id", "embedding",
        d = 4, kCells = 2, tau = 0.05)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(loose(1L) && loose(2L), "cross-cluster pairs must be invisible")
  }

  test("verbatimSpans: hand panel — shared passages island exactly, adjacency fuses, disjoint docs absent") {
    import graft.similarity.Dedup
    val sess = spark
    import sess.implicits._
    def words(r: Range, p: String) = r.map(i => s"$p$i").mkString(" ")
    // docs 1 and 2 share a 10-token passage (positions differ); doc 3
    // shares nothing; doc 4 repeats the passage twice with a one-token
    // gap SHORTER than the shingle width, so its windows never span
    // the gap but the islands stay separate (gap of 1 un-shingled
    // token between span ends still breaks: positions are not
    // adjacent)
    val shared = words(0 until 10, "s")
    val docs = Seq(
      (1L, shared + " " + words(0 until 20, "a")),
      (2L, words(0 until 5, "b") + " " + shared + " " + words(0 until 7, "c")),
      (3L, words(0 until 40, "z")),
      (4L, shared + " x " + shared)
    ).toDF("doc_id", "text")

    val got = Dedup.verbatimSpans(docs, "doc_id", "text", n = 8)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap

    // doc 1: windows at pos 0..2 (the 10-token passage) → one island
    // [0, 9] = 10 dup tokens of 30 total
    assert(got(1L) == ((30L, 1L, 10L)), s"doc1=${got.get(1L)}")
    // doc 2: same passage at pos 5 → island [5, 14]
    assert(got(2L) == ((22L, 1L, 10L)), s"doc2=${got.get(2L)}")
    // doc 3: no cross-doc 8-gram — absent from the output
    assert(!got.contains(3L), s"doc3 leaked: ${got.get(3L)}")
    // doc 4: both copies of the passage recur cross-doc; the 'x' gap
    // token is covered by NO window, so two islands of 10
    assert(got(4L) == ((21L, 2L, 20L)), s"doc4=${got.get(4L)}")
  }

  test("q164: incremental dedup reads a strict file subset yet equals the full anti-join") {
    val sess = spark
    import sess.implicits._
    import graft.sources.FileStats
    import graft.text.TextOps
    val root = Scratch.tempDir("graft_incdedup_spec")
    // corpus: even keys 0,2,…,198 clustered by key into 8 range files
    val corpus = (0L until 100L).map(i => (i, i * 2)).toDF("cid", "k")
    corpus.repartitionByRange(8, col("k")).sortWithinPartitions("k")
      .write.mode("overwrite").parquet(root)
    FileStats.build(spark, root, cols = Seq("k"))
    // batch: a NARROW key band [40, 60] (dups + odd newcomers) plus
    // far outliers — candidate files must exclude the untouched ranges
    val batch = ((40L to 60L) ++ Seq(1000L, -50L)).zipWithIndex
      .map { case (k, i) => (i.toLong, k) }.toDF("bid", "k")
    val got = graft.similarity.Dedup.incrementalNew(spark, root, batch, "k")
      .select("bid", "k").as[(Long, Long)].collect().toSet
    val want = batch.join(
        spark.read.parquet(root).select("k"), Seq("k"), "left_anti")
      .select("bid", "k").as[(Long, Long)].collect().toSet
    assert(got == want, s"pruned verify diverges from the full anti-join")
    // survivors: odd keys in band + the two outliers
    assert(got.map(_._2) == ((41L to 59L by 2).toSet ++ Set(1000L, -50L)))
    // and the pruning is real: the band + outliers intersect a strict
    // subset of the 8 file ranges
    val st = spark.read.parquet(FileStats.statsPath(root))
    val nFiles = st.count()
    val touched = st.where(col("min_k") <= 60L && col("max_k") >= 40L).count()
    assert(nFiles == 8L && touched < nFiles,
      s"band must touch a strict subset: $touched of $nFiles")

    // empty corpus: everything is new
    val eroot = Scratch.tempDir("graft_incdedup_mt")
    corpus.limit(0).repartition(1).write.mode("overwrite").parquet(eroot)
    FileStats.build(spark, eroot, cols = Seq("k"))
    assert(graft.similarity.Dedup.incrementalNew(spark, eroot, batch, "k")
      .count() == batch.count())
    graft.sources.Sinks.deleteRecursively(java.nio.file.Paths.get(root))
    graft.sources.Sinks.deleteRecursively(java.nio.file.Paths.get(eroot))
  }
}
