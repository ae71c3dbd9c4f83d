package graft

import org.apache.spark.sql.functions._

import graft.sources.Publish
import graft.streaming.PerplexityAdmitStream
import graft.tools.Scratch

/** S35 (streaming/PerplexityAdmitStream): the fixed-model fluency
  * admission gate. Pins the planted incoherent-doc rejection (same
  * vocabulary, improbable order — the case no heuristic or
  * distribution gate can see), arrival-order independence (the fixed
  * model is the stated contrast with S34's adaptive prefix), replay
  * idempotence, and a kill-and-restart through the checkpoint. */
class PerplexityAdmitStreamSpec extends SparkSpec {
  import spark.implicits._

  // reference: "a b c d" ×4 → c(a,b)=c(b,c)=c(c,d)=4, vocab V=4.
  // fluent "a b c d": each bigram −ln(5/9) ≈ 0.588 → ce ≈ 0.588
  // salad  "d c b a": −ln(1/5), −ln(1/9), −ln(1/9) → ce ≈ 2.0
  private def refDocs = (900L to 903L).map(i => (i, "a b c d")).toDF("doc_id", "text")
  private val MaxCe = 1.0

  private def roots(): (String, String) = {
    val base = Scratch.tempDir("graft_s35")
    (s"$base/model", s"$base/corpus")
  }

  test("fluent admitted, same-vocabulary word salad rejected; fixed model is order-independent; replay no-op") {
    val (modelRoot, corpRoot) = roots()
    PerplexityAdmitStream.publishModel(refDocs, "doc_id", "text", modelRoot)
    // idempotent setup: a second call must not mint new versions
    PerplexityAdmitStream.publishModel(refDocs, "doc_id", "text", modelRoot)
    assert(Publish.currentVersion(s"$modelRoot/bigrams").contains(1L))
    assert(Publish.currentVersion(s"$modelRoot/vocab").contains(1L))

    val b0 = Seq(
      (1L, "a b c d"),   // fluent: admitted
      (2L, "d c b a"),   // incoherent: SAME words, improbable order
      (3L, "z z z"),     // OOV salad: UNK bigrams score worst
      (4L, "a")          // no bigram: null ce, not prose
    ).toDF("doc_id", "text")
    assert(PerplexityAdmitStream.applyBatch(b0, 0L, "doc_id", "text",
      MaxCe, modelRoot, corpRoot))
    val admitted = Publish.read(spark, corpRoot)
      .select("doc_id", "ce").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(admitted.keySet == Set(1L),
      s"only the fluent doc may pass the gate: $admitted")
    assert(math.abs(admitted(1L) - 0.587787) < 1e-5, admitted.toString)

    // a flood of salad between two copies of the same doc changes
    // NOTHING: the model is fixed, ce is a pure function of the text
    val flood = (10L to 29L).map(i => (i, "d c b a d c b a")).toDF("doc_id", "text")
    assert(PerplexityAdmitStream.applyBatch(flood, 1L, "doc_id", "text",
      MaxCe, modelRoot, corpRoot))
    val b2 = Seq((30L, "a b c d")).toDF("doc_id", "text")
    assert(PerplexityAdmitStream.applyBatch(b2, 2L, "doc_id", "text",
      MaxCe, modelRoot, corpRoot))
    val after = Publish.read(spark, corpRoot)
      .select("doc_id", "ce").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(after.keySet == Set(1L, 30L), after.toString)
    assert(after(30L) == after(1L),
      "a fixed model must score identical text identically, flood or not")

    // replay: the corpus append refuses its own batch id
    val corpV = Publish.currentVersion(corpRoot)
    assert(!PerplexityAdmitStream.applyBatch(b2, 2L, "doc_id", "text",
      MaxCe, modelRoot, corpRoot))
    assert(Publish.currentVersion(corpRoot) == corpV)
    assert(Publish.lastBatch(corpRoot).contains(2L))
  }

  test("torn model setup (vocab published, crash before bigrams) completes on retry") {
    val (modelRoot, corpRoot) = roots()
    // simulate the crash: only the vocab member exists
    val (_, vocab) = graft.text.Perplexity.trainBigramModel(
      refDocs, "doc_id", "text")
    Publish.publish(vocab, s"$modelRoot/vocab"): Unit
    // retry must publish the MISSING bigrams half without minting a
    // second vocab version — then the gate works normally
    PerplexityAdmitStream.publishModel(refDocs, "doc_id", "text", modelRoot)
    assert(Publish.currentVersion(s"$modelRoot/vocab").contains(1L),
      "retry double-published the surviving member")
    assert(Publish.currentVersion(s"$modelRoot/bigrams").contains(1L),
      "retry skipped the missing member")
    val b = Seq((1L, "a b c d"), (2L, "d c b a")).toDF("doc_id", "text")
    assert(PerplexityAdmitStream.applyBatch(b, 0L, "doc_id", "text",
      MaxCe, modelRoot, corpRoot))
    assert(Publish.read(spark, corpRoot).select("doc_id")
      .collect().map(_.getLong(0)).toSet == Set(1L))
  }

  test("S35r: kill-and-restart resumes admissions exactly once") {
    val (modelRoot, corpRoot) = roots()
    val inDir = Scratch.tempDir("graft_s35r_in")
    val ckpt = Scratch.tempDir("graft_s35r_ck")
    PerplexityAdmitStream.publishModel(refDocs, "doc_id", "text", modelRoot)

    var mtime = System.currentTimeMillis() / 1000 * 1000 - 3600L * 1000
    def stage(rows: Seq[(Long, String)]): Unit = {
      val before = Option(new java.io.File(inDir).listFiles())
        .getOrElse(Array.empty).map(_.getName).toSet
      rows.toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(inDir)
      Option(new java.io.File(inDir).listFiles()).getOrElse(Array.empty)
        .filter(f => f.getName.endsWith(".parquet") && !before(f.getName))
        .foreach { f =>
          mtime += 2000
          java.nio.file.Files.setLastModifiedTime(f.toPath,
            java.nio.file.attribute.FileTime.fromMillis(mtime))
        }
    }
    def mkQuery() = PerplexityAdmitStream.start(
      spark.readStream.schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", "1").parquet(inDir),
      "doc_id", "text", MaxCe, modelRoot, corpRoot,
      checkpointLocation = Some(ckpt))

    stage(Seq((1L, "a b c d"), (2L, "d c b a")))
    val q1 = mkQuery()
    try q1.processAllAvailable() finally q1.stop()
    val v1 = Publish.currentVersion(corpRoot)

    stage(Seq((3L, "a b c"), (4L, "c b a")))
    val q2 = mkQuery()
    try {
      q2.processAllAvailable()
      // incarnation 2 folded exactly the NEW batch: one more corpus
      // version, batch 0's admission not replayed
      assert(Publish.currentVersion(corpRoot) == v1.map(_ + 1))
      val ids = Publish.read(spark, corpRoot).select("doc_id")
        .collect().map(_.getLong(0)).toSeq
      assert(ids.sorted == Seq(1L, 3L),
        s"fluent docs once each, salad never: $ids")
    } finally {
      q2.stop()
      Seq(inDir, ckpt).foreach(d =>
        graft.sources.Sinks.deleteRecursively(java.nio.file.Paths.get(d)))
    }
  }

  test("versioned model cutover: new batches score the new model, old batches keep their provenance, torn cutover leaves the old model live") {
    val (modelRoot, corpRoot) = roots()
    PerplexityAdmitStream.publishModel(refDocs, "doc_id", "text", modelRoot)
    assert(PerplexityAdmitStream.modelVersion(modelRoot).contains(1L))

    // batch 0 under model v1: "a b c d" is the fluent order
    val b0 = Seq((1L, "a b c d"), (2L, "d c b a")).toDF("doc_id", "text")
    assert(PerplexityAdmitStream.applyBatch(b0, 0L, "doc_id", "text",
      MaxCe, modelRoot, corpRoot))
    val v0 = Publish.currentVersion(corpRoot).get
    assert(Publish.metaValueAt(corpRoot, v0,
      PerplexityAdmitStream.ModelKey).contains("1"),
      "admitted manifest must record the model version that scored it")

    // CUTOVER: retrain on a drifted reference where the fluent order
    // is REVERSED — the starkest possible semantic flip
    val refB = (910L to 913L).map(i => (i, "d c b a")).toDF("doc_id", "text")
    val mv2 = PerplexityAdmitStream.republishModel(refB, "doc_id", "text", modelRoot)
    assert(mv2 == 2L)
    assert(PerplexityAdmitStream.modelVersion(modelRoot).contains(2L))

    // batch 1 scores against v2: the SAME pair of texts now admits
    // the other member — proof the cutover took effect
    val b1 = Seq((10L, "a b c d"), (11L, "d c b a")).toDF("doc_id", "text")
    assert(PerplexityAdmitStream.applyBatch(b1, 1L, "doc_id", "text",
      MaxCe, modelRoot, corpRoot))
    val v1c = Publish.currentVersion(corpRoot).get
    val nowIn = Publish.read(spark, corpRoot)
      .select("doc_id", "ce").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(nowIn.keySet == Set(1L, 11L),
      s"v1 admitted doc 1, v2 must admit doc 11 and reject doc 10: $nowIn")
    assert(math.abs(nowIn(11L) - nowIn(1L)) < 1e-9,
      "the reversed model scores the reversed text identically")
    assert(Publish.metaValueAt(corpRoot, v1c,
      PerplexityAdmitStream.ModelKey).contains("2"))
    // provenance of the PRE-cutover batch is untouched
    assert(Publish.metaValueAt(corpRoot, v0,
      PerplexityAdmitStream.ModelKey).contains("1"))

    // torn cutover: a third retrain crashes after its vocab publish.
    // The live model must stay (bigrams v2 → vocab v2) — scoring
    // CANNOT pair v2 counts with the dangling v3 vocabulary.
    val (_, vocabC) = graft.text.Perplexity.trainBigramModel(
      (920L to 923L).map(i => (i, "x y z w")).toDF("doc_id", "text"),
      "doc_id", "text")
    Publish.publish(vocabC, s"$modelRoot/vocab"): Unit
    assert(PerplexityAdmitStream.modelVersion(modelRoot).contains(2L),
      "a torn cutover must not move the live model")
    val b2 = Seq((20L, "d c b a")).toDF("doc_id", "text")
    assert(PerplexityAdmitStream.applyBatch(b2, 2L, "doc_id", "text",
      MaxCe, modelRoot, corpRoot))
    val afterTorn = Publish.read(spark, corpRoot)
      .select("doc_id", "ce").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(afterTorn(20L) - afterTorn(11L)) < 1e-9,
      "mid-torn scoring must still use the v2 pairing (v2 vocab, not the dangling one)")

    // the retry completes the torn cutover as a fresh coherent pair
    val refC = (920L to 923L).map(i => (i, "x y z w")).toDF("doc_id", "text")
    val mv3 = PerplexityAdmitStream.republishModel(refC, "doc_id", "text", modelRoot)
    assert(mv3 == 3L)
    val b3 = Seq((30L, "x y z w"), (31L, "d c b a")).toDF("doc_id", "text")
    assert(PerplexityAdmitStream.applyBatch(b3, 3L, "doc_id", "text",
      MaxCe, modelRoot, corpRoot))
    val finalIn = Publish.read(spark, corpRoot)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(finalIn == Set(1L, 11L, 20L, 30L), finalIn.toString)

    // replay under the NEW model is still a no-op: refusal precedes
    // scoring, so a cutover can never double-admit an old batch
    val cv = Publish.currentVersion(corpRoot)
    assert(!PerplexityAdmitStream.applyBatch(b1, 1L, "doc_id", "text",
      MaxCe, modelRoot, corpRoot))
    assert(Publish.currentVersion(corpRoot) == cv)
  }
}
