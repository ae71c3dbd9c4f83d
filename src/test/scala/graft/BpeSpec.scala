package graft

import org.apache.spark.sql.functions._

import graft.text.Bpe

/** q183 (text.Bpe.trainMerges): BPE merge training. Hand-computed
  * merge sequences on planted corpora pin the algorithm: weighted
  * argmax, the (count DESC, l ASC, r ASC) tie-break, hierarchical
  * merges building on earlier rounds, early exhaustion, and the
  * documented leftmost-non-overlapping replace semantics. */
class BpeSpec extends SparkSpec {
  import spark.implicits._

  private def run(texts: Seq[String], rounds: Int) =
    Bpe.trainMerges(
      texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text"),
      "doc_id", "text", rounds)
      .orderBy("round").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
      .toSeq

  test("hierarchical merges with exact weighted counts; early exhaustion stops the loop") {
    // words: ab ×3, abc ×2, bc ×1
    // r1: (a,b) 3+2=5 beats (b,c) 3 → ab
    // r2: (ab,c) 2 beats (b,c) 1 → abc   (builds on r1's symbol)
    // r3: (b,c) 1 → bc; r4: no pairs left → stop at 3 of 5 rounds
    val got = run(Seq("ab ab abc", "ab abc bc"), rounds = 5)
    assert(got == Seq(
      (1, "a", "b", "ab", 5L),
      (2, "ab", "c", "abc", 2L),
      (3, "b", "c", "bc", 1L)), got.toString)
  }

  test("argmax ties break on left then right symbol, ascending") {
    // (x,y) and (y,z) both weigh 2 — x < y wins round 1
    val got = run(Seq("xy yz", "xy yz"), rounds = 1)
    assert(got == Seq((1, "x", "y", "xy", 2L)), got.toString)
  }

  test("leftmost non-overlapping replace: the boundary occurrence defers to the next round") {
    // 'aaa' → ' a a a ': (a,a) counts 2, ONE replace pass merges only
    // the leftmost → ' aa a '; round 2 merges (aa,a) → 'aaa'
    val got = run(Seq("aaa"), rounds = 3)
    assert(got == Seq(
      (1, "a", "a", "aa", 2L),
      (2, "aa", "a", "aaa", 1L)), got.toString)
  }

  private def enc(texts: Seq[String], merges: Seq[(String, String)]) =
    Bpe.encode(
      texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text"),
      "doc_id", "text", merges)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toSeq

  test("encode: merges apply in order, word boundaries are hard, totality on empty text") {
    val merges = Seq(("a", "b"), ("ab", "c"))
    // 'abc' fuses fully through the hierarchy; 'a b' never merges
    // across the word boundary; '' has zero words and zero tokens
    assert(enc(Seq("abc", "a b", ""), merges) ==
      Seq((1L, 3L, 1L), (2L, 2L, 2L), (0L, 0L, 0L)))
    // REVERSED order breaks the hierarchy: (ab,c) fires before 'ab'
    // exists, so 'abc' encodes to 2 tokens, not 1 — order IS the
    // tokenizer
    assert(enc(Seq("abc"), merges.reverse) == Seq((1L, 3L, 2L)))
  }

  /** The merge chain the native kernel replaced, verbatim: per
    * non-empty word, char-split to the padded symbol string, one
    * literal replace per merge in order, trim, split. The reference
    * the kernel must equal. */
  private def hofChain(merges: Seq[(String, String)]) = {
    val applied = merges.foldLeft(
      "concat(' ', regexp_replace(w, '(.)', '$1 '))") { case (acc, (l, r)) =>
      s"replace($acc, ' $l $r ', ' $l$r ')"
    }
    (expr("aggregate(transform(filter(split(text, ' '), w -> w <> ''), " +
      s"w -> size(split(trim($applied), ' '))), 0, (a, x) -> a + x)").cast("long"),
      expr("flatten(transform(filter(split(text, ' '), w -> w <> ''), " +
        s"w -> split(trim($applied), ' ')))"))
  }

  test("native BPE kernel ≡ the HOF merge chain on hostile text") {
    val texts: Seq[String] = Seq(
      // every Java line terminator: regex '.' skips it, so it glues to
      // the next symbol, and a trailing one keeps no trailing space
      "a\nb x\ny", "a\r\nb", "\n", "\u0085a", "a\u2028", "\u2029\u2029 a\n",
      "q\rz \rz", "ab\n ab\u0085",
      // supplementary-plane code points are one symbol each
      "\ud83d\ude00\ud83d\ude00 \ud83d\ude00a \ud834\udd1ex é中",
      // leftmost non-overlapping runs: the boundary pair defers
      "abab", "aaaa", "ababab", "aaaaa", "abababa",
      // space runs, empty and blank text, null
      "  ab   aa  ", "", "   ", null,
      // one word repeated: memo hits as well as misses
      ("abab " * 300) + ("aaaa " * 100) + "ab",
      // more distinct words than the memo holds: it refills
      (0 until 20000).map(i => s"ab$i").mkString(" "))
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val mergeLists = Seq(
      Seq.empty[(String, String)],
      // later sides are earlier merged symbols; ('a', '\n') can only
      // fire mid-word; terminator-led and supplementary symbols merge
      Seq(("a", "b"), ("ab", "ab"), ("a", "a"), ("aa", "aa"), ("abab", "a"),
        ("x", "\ny"), ("q", "\rz"), ("a", "\n"), ("ab", "\u0085"),
        ("\ud83d\ude00", "\ud83d\ude00"), ("é", "中"), ("1", "2")))
    val noVocab = Seq.empty[(Long, String)].toDF("token_id", "symbol")
    val modes = Seq("CODEGEN_ONLY" -> "true", "NO_CODEGEN" -> "false")
    for (merges <- mergeLists; (factory, wholeStage) <- modes) {
      spark.conf.set("spark.sql.codegen.factoryMode", factory)
      spark.conf.set("spark.sql.codegen.wholeStage", wholeStage)
      try {
        val (hofCount, hofSyms) = hofChain(merges)
        val counts = Bpe.encode(docs, "doc_id", "text", merges)
          .select("doc_id", "n_bpe_tokens").collect()
          .map(r => r.getLong(0) -> Option(r.get(1))).toMap
        val refCounts = docs.select(col("doc_id"), hofCount).collect()
          .map(r => r.getLong(0) -> Option(r.get(1))).toMap
        assert(counts == refCounts, s"$factory ${merges.size} merges: counts")
        assert(counts(texts.indexOf(null).toLong).isEmpty, "null text gives null")
        val syms = Bpe.encodeIds(docs, "doc_id", "text", merges, noVocab, oovId = Some(0L))
          .select("doc_id", "pos", "symbol").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
        val refSyms = docs.select(col("doc_id"), posexplode(hofSyms)).collect()
          .map(r => (r.getLong(0), r.getInt(1) + 1L, r.getString(2))).toSet
        assert(syms == refSyms, s"$factory ${merges.size} merges: " +
          s"native-only=${syms.diff(refSyms).take(5)} hof-only=${refSyms.diff(syms).take(5)}")
      } finally {
        spark.conf.unset("spark.sql.codegen.factoryMode")
        spark.conf.unset("spark.sql.codegen.wholeStage")
      }
    }
  }

  test("trainAndEncode: the corpus billed in its own learned tokens") {
    // q183's planted corpus trains [(a,b), (ab,c), (b,c)]; every word
    // then encodes to ONE token
    val docs = Seq((1L, "ab ab abc"), (2L, "ab abc bc")).toDF("doc_id", "text")
    val got = Bpe.trainAndEncode(docs, "doc_id", "text", rounds = 5)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == Seq((1L, 3L, 7L, 3L), (2L, 3L, 7L, 3L)), got.toString)
  }

  test("vocabulary: post-merge symbols with exact weighted counts and deterministic ids") {
    // q183's corpus after 3 merges: ab×3 → 'ab'; abc×2 → 'abc';
    // bc×1 → 'bc' — three fully-fused symbols, ids by (count, sym)
    val docs = Seq((1L, "ab ab abc"), (2L, "ab abc bc")).toDF("doc_id", "text")
    val got = Bpe.vocabulary(docs, "doc_id", "text", rounds = 5)
      .orderBy("token_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(got == Seq((1L, "ab", 3L), (2L, "abc", 2L), (3L, "bc", 1L)), got.toString)
    // partial fusion keeps residual symbols in the vocabulary: one
    // round fuses only (a,b) — 'c' survives as a character symbol
    val got1 = Bpe.vocabulary(docs, "doc_id", "text", rounds = 1)
      .orderBy("token_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(got1 == Seq((1L, "ab", 5L), (2L, "c", 3L), (3L, "b", 1L)), got1.toString)
  }

  test("encodeIds: the ordered token-id stream, exact under full and partial fusion") {
    val docs = Seq((1L, "ab ab abc"), (2L, "ab abc bc")).toDF("doc_id", "text")
    def stream(rounds: Int): Seq[(Long, Long, Long, String)] = {
      val merges = Bpe.trainMerges(docs, "doc_id", "text", rounds)
        .orderBy("round").collect().map(r => (r.getString(1), r.getString(2))).toSeq
      Bpe.encodeIds(docs, "doc_id", "text", merges,
        Bpe.vocabulary(docs, "doc_id", "text", rounds))
        .orderBy("doc_id", "pos").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSeq
    }
    // full fusion: vocab ab→1 abc→2 bc→3; doc 1 = [1,1,2], doc 2 = [1,2,3]
    assert(stream(5) == Seq(
      (1L, 1L, 1L, "ab"), (1L, 2L, 1L, "ab"), (1L, 3L, 2L, "abc"),
      (2L, 1L, 1L, "ab"), (2L, 2L, 2L, "abc"), (2L, 3L, 3L, "bc")),
      stream(5).toString)
    // partial fusion (1 round): 'abc' is [ab, c], 'bc' is [b, c] —
    // multi-symbol words stream in symbol order; vocab ab→1 c→2 b→3
    assert(stream(1) == Seq(
      (1L, 1L, 1L, "ab"), (1L, 2L, 1L, "ab"), (1L, 3L, 1L, "ab"), (1L, 4L, 2L, "c"),
      (2L, 1L, 1L, "ab"), (2L, 2L, 1L, "ab"), (2L, 3L, 2L, "c"),
      (2L, 4L, 3L, "b"), (2L, 5L, 2L, "c")),
      stream(1).toString)
  }

  test("vocabularyFromMerges equals the training loop's own vocabulary") {
    val docs = Seq((1L, "ab ab abc"), (2L, "ab abc bc")).toDF("doc_id", "text")
    for (rounds <- Seq(1, 3, 5)) {
      val merges = Bpe.trainMerges(docs, "doc_id", "text", rounds)
        .orderBy("round").collect().map(r => (r.getString(1), r.getString(2))).toSeq
      val fromMerges = Bpe.vocabularyFromMerges(docs, "doc_id", "text", merges)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      val trained = Bpe.vocabulary(docs, "doc_id", "text", rounds)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      assert(fromMerges == trained, s"rounds=$rounds: $fromMerges vs $trained")
    }
  }

  test("pre-tokenization: merges cannot cross class boundaries; whitespace mode provably can") {
    val docs = Seq((1L, "ab.cd ab.cd")).toDF("doc_id", "text")
    // whitespace mode sees the word 'ab.cd' — all four adjacent pairs
    // tie at 2 and the (l ASC) break picks '.' + 'c': punctuation
    // FUSES into the word
    val ws = Bpe.trainMerges(docs, "doc_id", "text", rounds = 1)
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq
    assert(ws == Seq((".", "c")), ws.toString)
    // pre-tokenized units are 'ab', '.', 'cd' — the cross-class pairs
    // (b,.) and (.,c) never exist, so letters merge first
    val pt = Bpe.trainMerges(docs, "doc_id", "text", rounds = 1, pretokenize = true)
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq
    assert(pt == Seq(("a", "b")), pt.toString)
    // digit runs are their own class: '9.25' contributes only (2,5)
    val dig = Bpe.trainMerges(
      Seq((1L, "x9.25 x9.25")).toDF("doc_id", "text"),
      "doc_id", "text", rounds = 1, pretokenize = true)
      .collect().map(r => (r.getString(1), r.getString(2), r.getLong(4))).toSeq
    assert(dig == Seq(("2", "5", 2L)), dig.toString)
  }

  test("encodeIds oovId: out-of-vocabulary symbols keep their position carrying the UNK id") {
    val docs = Seq((1L, "ab b")).toDF("doc_id", "text")
    val vocab = Seq((1L, "ab", 5L)).toDF("token_id", "symbol", "n_occurrences")
    val merges = Seq(("a", "b"))
    // default (self-tokenization contract): the uncovered symbol's
    // row drops
    val strict = Bpe.encodeIds(docs, "doc_id", "text", merges, vocab)
      .orderBy("pos").collect().map(r => (r.getLong(1), r.getLong(2))).toSeq
    assert(strict == Seq((1L, 1L)), strict.toString)
    // ... and the stream is GAPPED, not renumbered: in 'b ab' the
    // surviving 'ab' keeps its pre-join position 2
    val gapped = Bpe.encodeIds(Seq((1L, "b ab")).toDF("doc_id", "text"),
      "doc_id", "text", merges, vocab)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getString(3))).toSeq
    assert(gapped == Seq((2L, 1L, "ab")), gapped.toString)
    // oovId: 'b' holds position 2 with the UNK id
    val unk = Bpe.encodeIds(docs, "doc_id", "text", merges, vocab, oovId = Some(0L))
      .orderBy("pos").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getString(3))).toSeq
    assert(unk == Seq((1L, 1L, "ab"), (2L, 0L, "b")), unk.toString)
  }

  test("fertility: per-language tokens-per-word and compression, integer-exact ppm") {
    val docs = Seq(
      (1L, "ab ab abc", "en"),
      (2L, "ab abc bc", "xx"),
      (3L, "", "en") // empty doc: counted, contributes zeros
    ).toDF("doc_id", "text", "lang")
    // merges [(a,b)]: doc1 = ab(1) ab(1) abc(2) → 4 tokens / 3 words
    //                 doc2 = ab(1) abc(2) bc(2) → 5 tokens / 3 words
    val got = Bpe.fertility(docs, "doc_id", "text", "lang", Seq(("a", "b")))
      .orderBy("lang").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toSeq
    assert(got == Seq(
      ("en", 2L, 3L, 7L, 4L, 1333333L, 571428L),
      ("xx", 1L, 3L, 7L, 5L, 1666666L, 714285L)), got.toString)
  }

  test("coverage: the truncation curve climbs exactly and saturates above |vocab|") {
    val docs = Seq((1L, "ab ab abc"), (2L, "ab abc bc")).toDF("doc_id", "text")
    // merges [(a,b)] → symbols ab=5, c=3, b=1 (total 9); ids ab=1 c=2 b=3
    val got = Bpe.coverage(docs, "doc_id", "text", Seq(("a", "b")),
      cuts = Seq(1L, 2L, 3L, 64L))
      .orderBy("vocab_cut").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == Seq(
      (1L, 1L, 5L, 555555L),
      (2L, 2L, 8L, 888888L),
      (3L, 3L, 9L, 1000000L),
      (64L, 3L, 9L, 1000000L)), got.toString)
  }

  test("contextWindows: packing, offsets, and placement agree; empty docs pack nothing") {
    // scrambles: doc2 (308871487) < doc1 (654435747) < doc3 (963307234)
    // — the packing order under one shard
    val docs = Seq((1L, "ab ab"), (2L, "abc"), (3L, "b c"), (4L, ""))
      .toDF("doc_id", "text")
    // merges [(a,b)] → vocab ab=1(3), c=2(2), b=3(1)
    // streams: doc1=[1,1] doc2=[1,2] doc3=[3,2]; all length 2
    def run(budget: Long) =
      Bpe.contextWindows(docs, "doc_id", "text", Seq(("a", "b")),
        shards = 1, budget = budget)
        .orderBy("seq_id", "win_pos").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSeq
    // budget 4: [doc2, doc1] fill window 1; doc3 opens window 2
    assert(run(4L) == Seq(
      (0L, 1L, 1L, 2L, 1L), (0L, 1L, 2L, 2L, 2L),
      (0L, 1L, 3L, 1L, 1L), (0L, 1L, 4L, 1L, 1L),
      (0L, 2L, 1L, 3L, 3L), (0L, 2L, 2L, 3L, 2L)), run(4L).toString)
    // budget 1 (every doc oversized): one window per doc, win_pos = pos
    assert(run(1L) == Seq(
      (0L, 1L, 1L, 2L, 1L), (0L, 1L, 2L, 2L, 2L),
      (0L, 2L, 1L, 1L, 1L), (0L, 2L, 2L, 1L, 1L),
      (0L, 3L, 1L, 3L, 3L), (0L, 3L, 2L, 3L, 2L)), run(1L).toString)
  }

  test("packingEfficiency: exact window counts and padding across the budget regimes") {
    // docs/merges as in the contextWindows case: three 2-token docs
    val docs = Seq((1L, "ab ab"), (2L, "abc"), (3L, "b c"), (4L, ""))
      .toDF("doc_id", "text")
    val got = Bpe.packingEfficiency(docs, "doc_id", "text", Seq(("a", "b")),
      shards = 1, budgets = Seq(1L, 2L, 4L, 100L))
      .orderBy("budget").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == Seq(
      // oversized regime: every doc overflows alone — capacity 3 < 6
      // tokens, padding clamps at 0
      (1L, 3L, 6L, 0L),
      // exact fit: three windows of 2
      (2L, 3L, 6L, 0L),
      // [doc2, doc1] fill one window, doc3 under-fills the tail:
      // capacity 8, tokens 6 → 250000 ppm padding
      (4L, 2L, 6L, 250000L),
      // everything in one window: 94/100 wasted
      (100L, 1L, 6L, 940000L)), got.toString)
  }

  test("epochOrder: a seeded permutation of the window index, replayable and seed-sensitive") {
    val docs = Tables.documents(spark, SfDir)
    val merges = Bpe.trainMerges(docs, "doc_id", "text", rounds = 8)
      .orderBy("round").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    def order(seed: Long): Seq[(Long, Long, Long)] =
      Bpe.epochOrder(docs, "doc_id", "text", merges,
        shards = 8, budget = 512L, seed = seed)
        .orderBy("epoch_pos").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val e1 = order(1L)
    // a permutation: positions are exactly 1..N, windows distinct
    assert(e1.map(_._1) == (1L to e1.size.toLong), "positions must be 1..N")
    assert(e1.map(t => (t._2, t._3)).distinct.size == e1.size)
    // replayable: the same seed is bit-identical
    assert(order(1L) == e1, "same seed must replay the same epoch")
    // seed-sensitive: another seed visits the same windows differently
    val e2 = order(2L)
    assert(e2.map(t => (t._2, t._3)).toSet == e1.map(t => (t._2, t._3)).toSet)
    assert(e2 != e1, "re-seeding must permute the epoch")
    // and the scramble rank matches an in-Scala reference — the inner
    // sum reduces mod 1e9+7 BEFORE the Knuth multiply (the r12 advice
    // fix: the unreduced product wraps long past seq_id ~4.4e5)
    def scramble(s: Long, q: Long, seed: Long): Long =
      math.floorMod(s * 1000003L + q * 7919L + seed, 1000000007L) *
        2654435761L % 1000000007L
    val ref = e1.map(t => (t._2, t._3)).sortBy { case (s, q) =>
      (scramble(s, q, 1L), s, q) }
    assert(e1.map(t => (t._2, t._3)) == ref, "rank diverged from the scramble")
    // overflow regression: at corpus-scale seq_ids the reduced form
    // stays exact where the old unreduced product wrapped long
    val big = Seq((7L, 1234567890123L)).map { case (s, q) =>
      scramble(s, q, 1L) }.head
    assert(big >= 0L && big < 1000000007L)
    assert(7L * 1000003L + 1234567890123L * 7919L < Long.MaxValue / 2654435761L
      == false, "the planted magnitude must actually exceed the old safe range")
  }

  test("wordpieceSegment: greedy longest-match, UNK advance, round-trip identity") {
    val sess = spark
    import sess.implicits._
    // rounds=2 on the ref corpus learns [(a,b), (ab,c)] — vocabulary
    // ab=1(3) abc=2(2) b=3(1) c=4(1); 'a' merges away entirely
    val ref = Seq((900L, "ab ab abc"), (901L, "ab abc bc"))
      .toDF("doc_id", "text")
    val merges = graft.text.Bpe.trainMerges(ref, "doc_id", "text", rounds = 2)
      .orderBy("round").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    // FIXED ref-trained vocabulary, segmenting new words too — the
    // OOV situation where UNK actually fires ('a' merged away in the
    // ref corpus, so standalone 'a' has no vocabulary entry)
    val vocab = graft.text.Bpe
      .vocabularyFromMerges(ref, "doc_id", "text", merges)
    val words = Seq("ab", "abc", "bc", "abab", "a", "qbc")
      .toDF("word")
    val got = graft.text.Bpe.segmentWords(words, vocab)
      .orderBy("word", "seg_pos")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2),
        r.getLong(3))).toSeq
    assert(got.filter(_._1 == "ab") == Seq(("ab", 1L, "ab", 1L)))
    // longest-match: abc as ONE symbol, never ab+c
    assert(got.filter(_._1 == "abc") == Seq(("abc", 1L, "abc", 2L)))
    assert(got.filter(_._1 == "bc") ==
      Seq(("bc", 1L, "b", 3L), ("bc", 2L, "c", 4L)))
    assert(got.filter(_._1 == "abab") ==
      Seq(("abab", 1L, "ab", 1L), ("abab", 2L, "ab", 1L)))
    assert(got.filter(_._1 == "a") == Seq(("a", 1L, "a", 0L)),
      "a merged-away char must segment as UNK id 0")
    assert(got.filter(_._1 == "qbc") == Seq(
      ("qbc", 1L, "q", 0L), ("qbc", 2L, "b", 3L), ("qbc", 3L, "c", 4L)),
      "UNK advances one char and resumes matching")

    // round-trip identity on the real corpus: concatenated segments
    // re-spell every word, and every non-UNK id resolves to a
    // vocabulary symbol of the same spelling
    val docs = Tables.documents(spark, SfDir)
    val rm = graft.text.Bpe.trainMerges(docs, "doc_id", "text", rounds = 8)
      .orderBy("round").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val sgd = graft.text.Bpe.wordpieceSegment(docs, "doc_id", "text", rm)
      .persist()
    val respelled = sgd.orderBy("word", "seg_pos")
      .groupBy("word").agg(concat_ws("", collect_list("symbol")).as("cat"))
      .where(col("word") =!= col("cat"))
    assert(respelled.isEmpty, "segments must re-spell the word exactly")
    val corpusVocab = graft.text.Bpe
      .vocabularyFromMerges(docs, "doc_id", "text", rm)
    val badIds = sgd.where(col("token_id") =!= 0L)
      .join(corpusVocab, Seq("token_id"))
      .where(sgd("symbol") =!= corpusVocab("symbol"))
    assert(badIds.isEmpty, "ids must resolve to same-spelling vocab symbols")
    sgd.unpersist(): Unit
  }

  test("viterbiSegment: global optimum beats greedy; UNK; tie rules; corpus round-trip") {
    val sess = spark
    import sess.implicits._
    // explicit weighted vocabulary: ab=5, abc=4, b=2, c=3, a=1 —
    // greedy longest-match takes abc(4); Viterbi takes ab+c = 8
    val vocab = Seq((1L, "ab", 5L), (2L, "abc", 4L), (3L, "b", 2L),
      (4L, "c", 3L), (5L, "a", 1L))
      .toDF("token_id", "symbol", "n_occurrences")
    val words = Seq("abc", "abq", "q", "aab").toDF("word")
    val got = graft.text.Bpe.viterbiSegmentWords(words, vocab)
      .orderBy("word", "seg_pos")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2),
        r.getLong(3))).toSeq
    assert(got.filter(_._1 == "abc") ==
      Seq(("abc", 1L, "ab", 1L), ("abc", 2L, "c", 4L)),
      "Viterbi must beat greedy's single abc(4) with ab+c(8)")
    assert(got.filter(_._1 == "abq") ==
      Seq(("abq", 1L, "ab", 1L), ("abq", 2L, "q", 0L)))
    assert(got.filter(_._1 == "q") == Seq(("q", 1L, "q", 0L)))
    // a+ab(6) beats a+a+b(4) and ab-prefix is impossible (aab)
    assert(got.filter(_._1 == "aab") ==
      Seq(("aab", 1L, "a", 5L), ("aab", 2L, "ab", 1L)))
    // greedy contrast on the same vocab: abc stays one symbol
    val greedy = graft.text.Bpe.segmentWords(
      Seq("abc").toDF("word"), vocab)
      .collect().map(r => (r.getString(2), r.getLong(3))).toSeq
    assert(greedy == Seq(("abc", 2L)), s"greedy $greedy")

    // real corpus: round-trip re-spelling, and Viterbi's total weight
    // per word is >= greedy's (global optimum dominates)
    val docs = Tables.documents(spark, SfDir)
    val rm = graft.text.Bpe.trainMerges(docs, "doc_id", "text", rounds = 8)
      .orderBy("round").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val vit = graft.text.Bpe.viterbiSegment(docs, "doc_id", "text", rm)
      .persist()
    val respelled = vit.orderBy("word", "seg_pos")
      .groupBy("word").agg(concat_ws("", collect_list("symbol")).as("cat"))
      .where(col("word") =!= col("cat"))
    assert(respelled.isEmpty, "segments must re-spell the word exactly")
    val cv = graft.text.Bpe.vocabularyFromMerges(docs, "doc_id", "text", rm)
    def weightOf(seg: org.apache.spark.sql.DataFrame) =
      seg.join(cv.select(col("token_id"), col("n_occurrences")), Seq("token_id"))
        .groupBy("word").agg(sum("n_occurrences").as("tw"))
    val worse = weightOf(vit)
      .join(weightOf(graft.text.Bpe.wordpieceSegment(docs, "doc_id", "text", rm))
        .withColumnRenamed("tw", "gw"), Seq("word"))
      .where(col("tw") < col("gw"))
    assert(worse.isEmpty, "Viterbi total weight must dominate greedy's")
    vit.unpersist(): Unit
  }

  test("segmentation scans by CODE POINT: supplementary-plane chars are one position") {
    // the DuckDB oracle slices word[a:b] by code point; UTF-16-unit
    // indexing would (a) split an emoji's surrogate pair into two
    // broken UNK "symbols", and (b) miss a vocab symbol whose
    // code-point length fits maxLen but whose unit length does not
    val sess = spark
    import sess.implicits._
    val uVocab = Seq((1L, "b")).toDF("token_id", "symbol")
    val greedy = graft.text.Bpe
      .segmentWords(Seq("😀b").toDF("word"), uVocab)
      .orderBy("seg_pos")
      .collect().map(r => (r.getLong(1), r.getString(2), r.getLong(3))).toSeq
    assert(greedy == Seq((1L, "😀", 0L), (2L, "b", 1L)),
      "an emoji must be ONE intact UNK, not two surrogate halves")
    // maxLen=2 in code points admits the 2-cp (3-unit) symbol
    val eVocab = Seq((1L, "😀b", 5L), (2L, "b", 2L))
      .toDF("token_id", "symbol", "n_occurrences")
    val vit = graft.text.Bpe
      .viterbiSegmentWords(Seq("a😀b").toDF("word"),
        eVocab, maxLen = 2)
      .orderBy("seg_pos")
      .collect().map(r => (r.getLong(1), r.getString(2), r.getLong(3))).toSeq
    assert(vit == Seq((1L, "a", 0L), (2L, "😀b", 1L)),
      "a 2-code-point symbol must fit the maxLen=2 DP window")
  }

  test("evalWindows: hand layouts, the scored-once identity, and the context guarantee") {
    val sess = spark
    import sess.implicits._
    // single-char words → n_bpe_tokens == word count under 1-round
    // merges on a disjoint corpus (no merge applies to these docs)
    def doc(id: Long, n: Int) = (id, Seq.fill(n)("z").mkString(" "))
    val docs = Seq(doc(1L, 3), doc(2L, 8), doc(3L, 9), doc(4L, 20), (5L, ""))
      .toDF("doc_id", "text")
    val merges = Seq(("q", "q")) // never fires on z-only docs
    val got = graft.text.Bpe.evalWindows(docs, "doc_id", "text", merges,
      windowSize = 8L, stride = 4L)
      .orderBy("doc_id", "win_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    // L=3 < W: one window scoring everything; L=8 = W: same
    assert(got.filter(_._1 == 1L) == Seq((1L, 0L, 0L, 3L, 3L, 3L)))
    assert(got.filter(_._1 == 2L) == Seq((2L, 0L, 0L, 8L, 8L, 8L)))
    // L=9 = W+1: second window scores exactly the 1 overflow token
    assert(got.filter(_._1 == 3L) ==
      Seq((3L, 0L, 0L, 8L, 8L, 8L), (3L, 1L, 4L, 9L, 5L, 1L)))
    // L=20, W=8, S=4: windows at 0,4,8,12 — tail window ends at L
    assert(got.filter(_._1 == 4L) == Seq(
      (4L, 0L, 0L, 8L, 8L, 8L), (4L, 1L, 4L, 12L, 8L, 4L),
      (4L, 2L, 8L, 16L, 8L, 4L), (4L, 3L, 12L, 20L, 8L, 4L)))
    // the empty doc carries no windows
    assert(!got.exists(_._1 == 5L))
    // identities: scored spans tile [0, L) exactly and disjointly
    got.groupBy(_._1).foreach { case (_, ws) =>
      val l = ws.map(_._4).max
      assert(ws.map(_._6).sum == l, s"scored-once violated: $ws")
      val spans = ws.map(t => (t._4 - t._6, t._4)) // (scored_start, end)
      assert(spans.sortBy(_._1).sliding(2).forall {
        case Seq((_, e), (s2, _)) => e == s2
        case _ => true
      }, s"scored spans must tile: $spans")
    }
    // context guarantee: every non-head window's scored start sits
    // ≥ W−S=4 tokens into its own window
    got.filter(_._2 > 0L).foreach { t =>
      assert((t._4 - t._6) - t._3 >= 4L, s"context shortfall: $t")
    }

    // real corpus under the trained merges: the identity holds corpus-wide
    val real = Tables.documents(spark, SfDir)
    val rm = graft.text.Bpe.trainMerges(real, "doc_id", "text", rounds = 8)
      .orderBy("round").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val rw = graft.text.Bpe.evalWindows(real, "doc_id", "text", rm, 64L, 32L)
    val perDoc = rw.groupBy("doc_id")
      .agg(sum("n_scored").as("scored"), max("win_end").as("l"))
      .where(col("scored") =!= col("l"))
    assert(perDoc.isEmpty, "corpus scored-once identity failed")
  }

  test("contextWindows: windows are gapless and budget-bounded on the real testdata") {
    val docs = Tables.documents(spark, SfDir)
    val merges = Bpe.trainMerges(docs, "doc_id", "text", rounds = 8)
      .orderBy("round").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val wins = Bpe.contextWindows(docs, "doc_id", "text", merges,
      shards = 8, budget = 512L)
    val stats = wins.groupBy("shard", "seq_id")
      .agg(count(lit(1)).as("n"), max("win_pos").as("mx"), min("win_pos").as("mn"),
        countDistinct("win_pos").as("nd"))
      .collect()
    assert(stats.nonEmpty)
    stats.foreach { r =>
      val (n, mx, mn, nd) = (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(mn == 1L && mx == n && nd == n,
        s"window ${r.getLong(0)}/${r.getLong(1)} not gapless: n=$n mx=$mx mn=$mn nd=$nd")
    }
    // budget holds unless a single document overflows it alone (its
    // own window by the next-fit contract)
    val perDoc = wins.groupBy("shard", "seq_id", "doc_id")
      .agg(count(lit(1)).as("dn"))
    val over = perDoc.groupBy("shard", "seq_id")
      .agg(sum("dn").as("tot"), count(lit(1)).as("docs"))
      .where(col("tot") > 512L && col("docs") > 1L)
    assert(over.isEmpty, "a multi-doc window exceeded the budget")
  }

  test("non-vacuous at the real testdata: 8 full rounds of plausible English-ish merges") {
    val got = Bpe.trainMerges(
      Tables.documents(spark, SfDir), "doc_id", "text", rounds = 8)
    assert(got.count() == 8L, "testdata must carry 8 rounds of pair depth")
  }
}
