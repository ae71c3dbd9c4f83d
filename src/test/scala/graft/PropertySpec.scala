package graft

import java.sql.Date

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.operators.{GapFill, WindowOps}
import graft.sources.Ingest
import graft.text.TextOps
import graft.tools.Scratch

case class Obs(k: String, date: Date, v: Double)
case class Ver(k: Long, ver: Long, payload: Long)
case class Pt(k: Int, pid: Long, x: Long)
case class Itv(k: Int, iid: Long, lo: Long, hi: Long)
case class Probe(k: String, t: Long, id: Long)
case class Quote(k: String, qt: Long, pay: Long)

/** Property-based checks: operators vs independent in-Scala reference
  * implementations on randomized inputs — coverage the fixed testdata
  * can't give (degenerate keys, single-row groups, adversarial gaps).
  */
class PropertySpec extends SparkSpec {

  // scalacheck generators driven directly with fixed seeds (the
  // scalatest<->scalacheck bridge artifact is not on the offline
  // classpath); 5 deterministic cases per property
  private val params = Gen.Parameters.default.withSize(40)
  private def forAll[T](g: Gen[T])(body: T => Unit): Unit =
    (0 until 5).foreach(i => g.apply(params, Seed(42L + i)).foreach(body))
  private def whenever(cond: Boolean)(body: => Unit): Unit = if (cond) body

  private val day0 = Date.valueOf("2024-01-01").toLocalDate

  private val obsGen: Gen[List[Obs]] = Gen.listOf(for {
    k <- Gen.oneOf("a", "b", "c")
    d <- Gen.choose(0, 20)
    v <- Gen.choose(1, 999)
  } yield Obs(k, Date.valueOf(day0.plusDays(d)), v.toDouble))

  test("GapFill: dense calendar, observed rows preserved, ffill correct") {
    import spark.implicits._
    forAll(obsGen) { rows =>
      val distinctRows = rows.groupBy(r => (r.k, r.date)).map(_._2.head).toList
      whenever(distinctRows.nonEmpty) {
        val df = distinctRows.toDF("k", "date", "v")
        val out = GapFill.fillDaily(df, Seq("k"), "date", Seq("v"), Seq.empty)
          .select("k", "date", "v", "days_imputed")
          .collect()
          .map(r => (r.getString(0), r.getDate(1).toLocalDate, r.getDouble(2),
            if (r.isNullAt(3)) None else Some(r.getInt(3).toLong)))

        val globalMax = distinctRows.map(_.date.toLocalDate).max(Ordering.by[java.time.LocalDate, Long](_.toEpochDay))
        distinctRows.groupBy(_.k).foreach { case (k, krows) =>
          val obs = krows.map(r => r.date.toLocalDate -> r.v).toMap
          val d0 = krows.map(_.date.toLocalDate).minBy(_.toEpochDay)
          val expectDates = Iterator.iterate(d0)(_.plusDays(1))
            .takeWhile(!_.isAfter(globalMax)).toList
          val got = out.filter(_._1 == k).sortBy(_._2.toEpochDay)
          assert(got.map(_._2).toList == expectDates, s"calendar holes for key $k")
          var lastV = Double.NaN
          var streak = 0L
          got.foreach { case (_, d, v, imputed) =>
            if (obs.contains(d)) {
              lastV = obs(d); streak = 0
              assert(v == lastV && imputed.isEmpty, s"observed row altered at $k/$d")
            } else {
              streak += 1
              assert(v == lastV, s"ffill wrong at $k/$d")
              assert(imputed.contains(streak), s"days_imputed wrong at $k/$d")
            }
          }
        }
      }
    }
  }

  test("keepLatest: equals in-Scala max-by-version per key") {
    import spark.implicits._
    forAll(Gen.listOf(for {
      k <- Gen.choose(0L, 5L); v <- Gen.choose(0L, 100L); p <- Gen.choose(0L, 999L)
    } yield Ver(k, v, p))) { rows =>
      // unique (k, ver) so "latest" is well-defined on both sides
      val uniq = rows.groupBy(r => (r.k, r.ver)).map(_._2.head).toList
      whenever(uniq.nonEmpty) {
        val (a, b) = uniq.partition(_.payload % 2 == 0)
        val got = Ingest.keepLatest(
          a.toDF("k", "ver", "payload"), b.toDF("k", "ver", "payload"),
          keys = Seq("k"), versionCols = Seq(col("ver")))
          .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
        val want = uniq.groupBy(_.k).map { case (k, g) =>
          val top = g.maxBy(_.ver); k -> (top.ver, top.payload)
        }
        assert(got == want)
      }
    }
  }

  test("dedupeFirst keeps exactly the first row per key under the given order") {
    import spark.implicits._
    forAll(Gen.listOf(for {
      k <- Gen.choose(0L, 4L); o <- Gen.choose(0L, 50L); p <- Gen.choose(0L, 999L)
    } yield Ver(k, o, p))) { rows =>
      val uniq = rows.groupBy(r => (r.k, r.ver)).map(_._2.head).toList
      whenever(uniq.nonEmpty) {
        val got = WindowOps.dedupeFirst(uniq.toDF("k", "ver", "payload"),
          Seq("k"), Seq(col("ver")))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        val want = uniq.groupBy(_.k).map { case (k, g) => k -> g.map(_.ver).min }
        assert(got == want)
      }
    }
  }

  test("ngramJaccardPairs: df-capped ≡ uncapped on random corpora with dup clusters") {
    import spark.implicits._
    // small vocab forces heavy shingle collisions; appended clone
    // blocks force duplicate clusters larger than the cap — together
    // they exercise every branch of the rare/hot/exact decomposition
    val vocab = Vector("ant", "bee", "cat", "dog", "elk", "fox", "gnu", "hen", "ibis", "jay")
    val textGen = Gen.choose(3, 12).flatMap(len =>
      Gen.listOfN(len, Gen.oneOf(vocab)).map(_.mkString(" ")))
    val corpusGen = for {
      texts <- Gen.listOfN(25, textGen)
      cloneText <- textGen
      nClones <- Gen.choose(5, 15)
      cap <- Gen.choose(2, 8)
    } yield (texts ++ List.fill(nClones)(cloneText), cap)
    forAll(corpusGen) { case (texts, cap) =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val uncapped = graft.similarity.Dedup
        .ngramJaccardPairs(df, "doc_id", "text", n = 3, threshold = 0.5)
      val capped = graft.similarity.Dedup
        .ngramJaccardPairs(df, "doc_id", "text", n = 3, threshold = 0.5, maxDf = cap)
      // the byte-identical clone cluster must ALWAYS survive the cap;
      // random near-identical texts may legitimately differ between
      // the paths (documented contract), so compare on the clone block
      // plus assert capped ⊆ uncapped with equal jaccard everywhere
      val cloneIds = (25 until texts.length).map(_.toLong).toSet
      val uncappedClonePairs = uncapped
        .where(col("doc_a").isin(cloneIds.toSeq: _*) && col("doc_b").isin(cloneIds.toSeq: _*))
      val cappedClonePairs = capped
        .where(col("doc_a").isin(cloneIds.toSeq: _*) && col("doc_b").isin(cloneIds.toSeq: _*))
      assert(cappedClonePairs.exceptAll(uncappedClonePairs).count() == 0 &&
        uncappedClonePairs.exceptAll(cappedClonePairs).count() == 0,
        s"clone cluster pairs diverge at cap=$cap")
      assert(capped.exceptAll(uncapped).count() == 0,
        s"capped produced a pair/jaccard the uncapped path does not have (cap=$cap)")
      spark.catalog.clearCache()
    }
  }

  test("rrfFuse: leg-order invariant and equal to an in-Scala reference fold") {
    import spark.implicits._
    val legGen: Gen[List[(Long, Long)]] = Gen.listOf(
      Gen.choose(0L, 30L)).map(ids =>
      ids.distinct.zipWithIndex.map { case (id, i) => (id, i + 1L) })
    forAll(Gen.zip(legGen, legGen)) { case (a, b) =>
      whenever(a.nonEmpty && b.nonEmpty) {
        def run(legs: Seq[(String, List[(Long, Long)])]) =
          graft.operators.TopK.rrfFuse(
            legs.map { case (n, l) => n -> l.toDF("id", "rank") },
            "id", "rank", k0 = 60, topK = 50)
            .select("id", "rrf").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        val ab = run(Seq("a" -> a, "b" -> b))
        // reference: exact decimal fold in Scala
        def term(r: Long) = BigDecimal(1.0 / (60 + r))
          .setScale(9, BigDecimal.RoundingMode.HALF_UP)
        val want = (a.map { case (id, r) => id -> term(r) } ++
          b.map { case (id, r) => id -> term(r) })
          .groupBy(_._1).view.mapValues(_.map(_._2).sum).toSeq
          .sortBy { case (id, s) => (-s, id) }.take(50)
          .map { case (id, s) =>
            (id, s.setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) }
        assert(ab == want, s"fusion diverges from the reference fold")
        // leg order cannot matter (rank_ columns differ in order only)
        val ba = run(Seq("b" -> b, "a" -> a))
        assert(ba == ab, "rrfFuse is not leg-order invariant")
      }
    }
  }

  test("fingerprint matches an in-Scala reference fold") {
    import spark.implicits._
    val wordGen = Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.mkString)
    forAll(Gen.listOf(Gen.listOf(wordGen).map(_.mkString(" ")))) { texts =>
      whenever(texts.nonEmpty) {
        val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
        val got = TextOps.fingerprint(df, "doc_id", "text")
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        val want = texts.zipWithIndex.map { case (t, i) =>
          val h = t.split(" ", -1).foldLeft(0L) { (acc, w) =>
            val cv = if (w.nonEmpty) w.head.toLong else 0L
            (acc * 31L + w.length * 97L + cv) % 1000000007L
          }
          i.toLong -> h
        }.toMap
        assert(got == want)
      }
    }
  }

  test("graft_grams equals an in-Scala gram fold on random texts") {
    import spark.implicits._
    // spaces generate freely so empty tokens / runs / edges all occur
    val tokGen = Gen.oneOf(Gen.const(""), Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.mkString))
    forAll(Gen.listOf(Gen.listOf(tokGen).map(_.mkString(" ")))) { texts =>
      whenever(texts.nonEmpty) {
        val B = 97L
        val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
        val got = graft.text.Importance.hashedGramCounts(df, "doc_id", "text", B.toInt)
          .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
        val want = texts.zipWithIndex.flatMap { case (t, i) =>
          val ws = t.split(" ", -1).filter(_.nonEmpty)
          val hs = ws.map(_.foldLeft(7L)((a, c) => (a * 31L + c.toLong) % 1000000007L))
          val uni = hs.map(_ % B)
          val bi = hs.zip(hs.drop(1)).map { case (a, b) => ((a * 131L + b) % 1000000007L) % B }
          (uni ++ bi).map(b => (i.toLong, b))
        }.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
        assert(got == want)
      }
    }
  }

  test("groupedSplit: one split per group, label = in-Scala hash reference") {
    import spark.implicits._
    val keyGen = Gen.listOf(Gen.oneOf(
      Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.mkString),
      Gen.choose(0, 9).map(i => s"grp$i")))
    forAll(keyGen) { keys =>
      whenever(keys.nonEmpty) {
        val df = keys.zipWithIndex.map { case (k, i) => (i.toLong, k) }.toDF("id", "g")
        val got = graft.operators.Splits.groupedSplit(df, "g")
          .collect().map(r => r.getString(1) -> r.getString(2)).toMap
        val want = keys.distinct.map { k =>
          val h = k.foldLeft(7L)((a, c) => (a * 31L + c.toLong) % 1000000007L)
          val b = (h * 2654435761L) % 1000000007L % 1000L
          k -> (if (b < 800) "train" else if (b < 900) "val" else "test")
        }.toMap
        assert(got == want)
      }
    }
  }

  test("RangeJoin: equals the in-Scala naive BETWEEN join on random keyed inputs") {
    import spark.implicits._
    val gen = for {
      pts <- Gen.listOf(for {
        k <- Gen.choose(0, 2); x <- Gen.choose(-100L, 100L)
      } yield (k, x))
      itv <- Gen.listOf(for {
        k <- Gen.choose(0, 2); lo <- Gen.choose(-110L, 110L)
        len <- Gen.choose(-5L, 60L) // negative ⇒ empty interval
      } yield (k, lo, lo + len))
      w <- Gen.oneOf(1L, 7L, 64L)
    } yield (pts, itv, w)
    forAll(gen) { case (ptsRaw, itvRaw, binWidth) =>
      val pts = ptsRaw.zipWithIndex.map { case ((k, x), i) => Pt(k, i.toLong, x) }
      val itv = itvRaw.zipWithIndex.map { case ((k, lo, hi), i) => Itv(k, i.toLong, lo, hi) }
      whenever(pts.nonEmpty && itv.nonEmpty) {
        val got = graft.operators.RangeJoin.pointInInterval(
          pts.toDF(), itv.toDF(),
          "x", "lo", "hi", binWidth, extraKeys = Seq("k"))
          .select("pid", "iid").as[(Long, Long)].collect().toSet
        val want = (for {
          p <- pts; i <- itv
          if p.k == i.k && p.x >= i.lo && p.x <= i.hi
        } yield (p.pid, i.iid)).toSet
        assert(got == want, s"binWidth=$binWidth: got ${got.size}, want ${want.size}")
      }
    }
  }

  test("PrefixSum: equals an in-Scala scan on random weights with negatives and nulls") {
    import spark.implicits._
    val gen = for {
      rows <- Gen.nonEmptyListOf(for {
        v <- Gen.choose(-50L, 50L)
        isNull <- Gen.prob(0.15)
      } yield if (isNull) Option.empty[Long] else Some(v))
      n <- Gen.oneOf(1, 3, 32)
    } yield (rows, n)
    forAll(gen) { case (values, nParts) =>
      val df = values.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "v")
      val got = graft.operators.PrefixSum
        .globalRunningSum(df, Seq("id"), "v", "run", nParts)
        .orderBy("id").select("run").as[Long].collect().toSeq
      // in-Scala reference: nulls contribute nothing, running value
      // still emitted for every row (SQL SUM OVER semantics)
      val want = values.scanLeft(0L)((acc, v) => acc + v.getOrElse(0L)).tail
      assert(got == want, s"nParts=$nParts prefix sums diverge")
    }
  }

  test("chunkDocs: equals an in-Scala chunker on random texts including empties") {
    import spark.implicits._
    val textGen = Gen.frequency(
      1 -> Gen.const(""),
      5 -> Gen.choose(1, 40).flatMap(len =>
        Gen.listOfN(len, Gen.alphaLowerChar).map(_.mkString)))
    forAll(Gen.nonEmptyListOf(textGen)) { texts =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val got = TextOps.chunkDocs(df, "doc_id", "text", chunkSize = 12, stride = 7)
        .select("doc_id", "chunk_id", "chunk_start", "chunk_text", "chunk_len")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3), r.getInt(4)))
        .toSet
      val want = texts.zipWithIndex.flatMap { case (t, i) =>
        val starts = 1L to math.max(t.length.toLong, 1L) by 7L
        starts.zipWithIndex.map { case (s, ci) =>
          val chunk = t.slice((s - 1).toInt, (s - 1 + 12).toInt)
          (i.toLong, ci.toLong, s, chunk, chunk.length)
        }
      }.toSet
      assert(got == want, "chunker diverges from the in-Scala reference")
    }
  }

  test("AsOfJoin: equals the in-Scala latest-at-or-before lookup on random inputs") {
    import spark.implicits._
    val gen = for {
      probes <- Gen.nonEmptyListOf(for {
        k <- Gen.oneOf("a", "b", "c"); t <- Gen.choose(0L, 40L)
      } yield (k, t))
      quotes <- Gen.listOf(for {
        k <- Gen.oneOf("a", "b"); t <- Gen.choose(0L, 40L); pay <- Gen.choose(0L, 9L)
      } yield (k, t, pay))
    } yield (probes, quotes)
    forAll(gen) { case (probesRaw, quotesRaw) =>
      val probes = probesRaw.zipWithIndex.map { case ((k, t), i) => Probe(k, t, i.toLong) }
      val quotes = quotesRaw.map { case (k, t, p) => Quote(k, t, p) }
      whenever(quotes.nonEmpty) {
        // epoch-day longs as dates keeps datediff semantics trivial
        def d(n: Long) = java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(n))
        val pdf = probes.map(p => (p.k, d(p.t), p.id)).toDF("k", "t", "id")
        val qdf = quotes.map(q => (q.k, d(q.qt), q.pay)).toDF("k", "qt", "pay")
        val got = graft.operators.AsOfJoin
          .asOf(pdf, qdf, Seq("k"), "t", "qt", Seq("pay"), maxGapDays = Some(10))
          .select("id", "pay").collect()
          .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1))))
          .toMap
        val want = probes.map { p =>
          val cands = quotes.filter(q => q.k == p.k && q.qt <= p.t && p.t - q.qt <= 10)
          // tie at max time → greatest payload wins (documented)
          p.id -> (if (cands.isEmpty) None
                   else Some(cands.maxBy(q => (q.qt, q.pay)).pay))
        }.toMap
        assert(got == want, "as-of join diverges from the reference lookup")
      }
    }
  }

  test("bandSignatures are corpus-independent; incremental cross pairs equal the full-run slice") {
    import spark.implicits._
    import graft.similarity.Dedup
    // texts over a 6-word pool so near-dup band collisions actually occur
    val pool = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta")
    val gen = for {
      docs <- Gen.nonEmptyListOf(for {
        id <- Gen.choose(0L, 40L)
        n <- Gen.choose(3, 7)
        ws <- Gen.listOfN(n, Gen.oneOf(pool))
      } yield (id, ws.mkString(" ")))
      cut <- Gen.choose(0, 100)
    } yield (docs.groupBy(_._1).map(_._2.head).toList, cut)
    def sigSet(df: org.apache.spark.sql.DataFrame) =
      Dedup.bandSignatures(df, "doc_id", "text").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    forAll(gen) { case (docs, cut) =>
      val (a, b) = docs.partition(d => (d._1 * 31 + cut) % 3 != 0)
      whenever(a.nonEmpty && b.nonEmpty) {
        val (adf, bdf) = (a.toDF("doc_id", "text"), b.toDF("doc_id", "text"))
        val all = docs.toDF("doc_id", "text")
        // a document's signatures depend only on itself: any split
        // re-signs to the same table — the fact q166/S32 stand on
        assert(sigSet(adf) ++ sigSet(bdf) == sigSet(all),
          "signatures are not corpus-independent under this split")
        // and the incremental gate equals the full run's cross slice
        val aIds = a.map(_._1).toSet
        val got = Dedup.incrementalNearDupPairs(
            Dedup.bandSignatures(adf, "doc_id", "text"), bdf, "doc_id", "text")
          .select("corpus_doc", "batch_doc").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        val want = Dedup.minhashLsh(all, "doc_id", "text")
          .select("doc_a", "doc_b").collect()
          .map(r => (r.getLong(0), r.getLong(1)))
          .collect {
            case (x, y) if aIds.contains(x) && !aIds.contains(y) => (x, y)
            case (x, y) if aIds.contains(y) && !aIds.contains(x) => (y, x)
          }.toSet
        assert(got == want, s"extra=${got -- want} missing=${want -- got}")
      }
    }
  }

  test("Holt windowed convolution equals the sequential recurrence on random short series") {
    import spark.implicits._
    // gapless series shorter than the window: the 16-lag truncation
    // drops nothing, so the convolution must equal running Holt from
    // zero init at every step — for any values, any length, any key
    val seriesGen: Gen[(List[Long], Long)] = for {
      n <- Gen.choose(1, 15)
      vs <- Gen.listOfN(n, Gen.choose(-500000000L, 500000000L))
      d0 <- Gen.choose(0L, 100000L)
    } yield (vs, d0)
    forAll(seriesGen) { case (micros, d0) =>
      val daily = micros.zipWithIndex
        .map { case (m, i) => ("K", d0 + i, m) }.toDF("asset", "day_i", "micro")
      val got = graft.operators.LinearRecurrence
        .holtSmooth(daily, "asset", "day_i", "micro")
        .collect().map(r => r.getLong(1) -> ((r.getDouble(3), r.getDouble(4)))).toMap
      var level = 0.0
      var trend = 0.0
      micros.zipWithIndex.foreach { case (m, i) =>
        val y = m / 1e6
        val prev = level
        level = 0.5 * y + 0.5 * (level + trend)
        trend = 0.5 * (level - prev) + 0.5 * trend
        val (gl, gt) = got(d0 + i)
        assert(math.abs(gl - level) < 1e-4, s"level day $i: $gl vs $level")
        assert(math.abs(gt - trend) < 1e-4, s"trend day $i: $gt vs $trend")
      }
    }
  }

  test("band transition hash is invariant under any whole-band pitch shift") {
    import spark.implicits._
    // random melodies (note per window-run from a rhythm seed),
    // random transposition across the band set: the dominant-band
    // TRANSITION bits must not move — the q176 pitch-shift contract
    // on arbitrary rhythms, not just the planted fixture
    val cosTab = Map(0 -> Array(2, 1, -1, -2, -1, 1),
      1 -> Array(2, 0, -2, 0), 2 -> Array(2, -1, -1))
    def melody(shift: Int, rhythmSeed: Long, runLen: Int, n: Int): Array[Byte] =
      Array.tabulate(n) { i =>
        val w = (i.toLong * 65 / n).toInt
        val note = (((w / runLen + rhythmSeed) * 2654435761L % 97L) % 3L).toInt
        val band = (note + shift) % 3
        (128 + 20 * cosTab(band)(i % cosTab(band).length)).max(0).min(255).toByte
      }
    val caseGen: Gen[(Long, Int, Int)] = for {
      seed <- Gen.choose(0L, 1000L)
      runLen <- Gen.choose(2, 6)
      shift <- Gen.choose(1, 2)
    } yield (seed, runLen, shift)
    forAll(caseGen) { case (seed, runLen, shift) =>
      val n = 65 * 97 + 13
      val df = Seq(
        (1L, "audio", graft.multimodal.Riff.muxWav(8000, melody(0, seed, runLen, n))),
        (2L, "audio", graft.multimodal.Riff.muxWav(8000, melody(shift, seed, runLen, n))))
        .toDF("doc_id", "media_type", "payload")
      val fp = graft.multimodal.Multimodal.audioBandFingerprints(df)
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
      assert(fp(1L) == fp(2L),
        s"seed=$seed runLen=$runLen shift=$shift moved " +
          s"${java.lang.Long.bitCount(fp(1L) ^ fp(2L))} bits")
    }
  }

  test("WorkloadCapture.extract equals the per-dim interval intersection of planted conjuncts") {
    val dir = Scratch.tempDir("graft_wcap_prop") + "/t"
    locally {
      import spark.implicits._
      (0L until 50L).map(i => (i, i % 7)).toDF("x", "y").write.parquet(dir)
    }
    val dimMap = Map("x" -> "dx", "y" -> "dy")
    val target = new java.io.File(dir).getAbsolutePath
    // inequalities only: an equality conjunct invites
    // ConstantPropagation to fold a contradictory filter into an
    // empty relation, which is correct but not this model's subject
    // (point capture is unit-tested in WorkloadCaptureSpec)
    val condGen = Gen.nonEmptyListOf(for {
      c <- Gen.oneOf("x", "y")
      op <- Gen.oneOf("ge", "le")
      v <- Gen.choose(-5L, 55L)
    } yield (c, op, v))
    forAll(condGen) { conds =>
      val t = spark.read.parquet(dir)
      val cond = conds.map {
        case (c, "ge", v) => col(c) >= v
        case (c, _, v) => col(c) <= v
      }.reduce(_ && _)
      val got = graft.sources.WorkloadCapture.extract(
        t.where(cond).queryExecution.optimizedPlan, target, dimMap)
      val want = conds.groupBy(_._1).view.mapValues { cs =>
        val lo = cs.collect { case (_, "ge", v) => v }
        val hi = cs.collect { case (_, "le", v) => v }
        (lo.foldLeft(Long.MinValue)(math.max), hi.foldLeft(Long.MaxValue)(math.min))
      }.toMap
      // one Filter leg here (single scan); a contradictory
      // intersection (lo > hi — the leg matches nothing on that dim)
      // is DROPPED by contract rather than recorded negative-width
      val wantSeq = want.toSeq.map { case (c, (lo, hi)) => (dimMap(c), lo, hi) }
        .filter { case (_, lo, hi) => lo <= hi }
        .sortBy(_._1)
      val gotFlat = got.flatten
      assert(got.size <= 1 && gotFlat == wantSeq,
        s"got=$got want=$wantSeq conds=$conds")
    }
    graft.sources.Sinks.deleteRecursively(
      java.nio.file.Paths.get(dir).getParent)
  }

  test("Bpe: merge counts are non-increasing across rounds; vocab conserves characters") {
    import spark.implicits._
    // why non-increasing: round r picks the GLOBAL max pair count;
    // a merge only removes or preserves existing adjacencies, and
    // every NEW pair adjacency involves an occurrence of the merged
    // symbol, so its count is bounded by the merged pair's count —
    // round r+1's max can never exceed round r's
    val textGen = Gen.choose(1, 10).flatMap(len =>
      Gen.listOfN(len, Gen.choose(2, 6).flatMap(wl =>
        Gen.listOfN(wl, Gen.oneOf("a", "b", "c", "d")).map(_.mkString)))
        .map(_.mkString(" ")))
    forAll(Gen.listOfN(6, textGen)) { texts =>
      whenever(texts.exists(_.nonEmpty)) {
        val docs = texts.zipWithIndex
          .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
        val counts = graft.text.Bpe.trainMerges(docs, "doc_id", "text", rounds = 6)
          .orderBy("round").collect().map(_.getLong(4)).toSeq
        assert(counts == counts.sorted(Ordering[Long].reverse),
          s"merge counts increased across rounds: $counts")
        // character conservation: merges re-group characters, never
        // create or destroy them — Σ n_occ(sym)·len(sym) over the
        // vocabulary equals the corpus's non-space character count
        val vocabMass = graft.text.Bpe.vocabulary(docs, "doc_id", "text", rounds = 6)
          .select(sum(length(col("symbol")) * col("n_occurrences")))
          .head.getLong(0)
        val charMass = texts.map(_.count(_ != ' ')).sum
        assert(vocabMass == charMass.toLong,
          s"vocabulary lost or minted characters: $vocabMass vs $charMass")
      }
    }
  }

  test("Apportion equals the in-Scala Hamilton reference on random weights") {
    import spark.implicits._
    val wGen = Gen.choose(1, 8).flatMap(n =>
      Gen.listOfN(n, Gen.choose(0L, 50L))).map(_.zipWithIndex
        .map { case (w, i) => (s"k$i", w) })
    val bGen = Gen.choose(0L, 200L)
    forAll(Gen.zip(wGen, bGen)) { case (weights, budget) =>
      val wtot = math.max(weights.map(_._2).sum, 1L)
      val base = weights.map { case (k, w) => (k, w * budget / wtot, w * budget % wtot) }
      val leftover = budget - base.map(_._2).sum
      val topUp = base.sortBy { case (k, _, rem) => (-rem, k) }
        .take(leftover.toInt).map(_._1).toSet
      val expect = base.map { case (k, b, _) =>
        k -> (b + (if (topUp(k)) 1L else 0L)) }.toMap
      val got = graft.operators.Apportion
        .largestRemainder(weights.toDF("k", "w"), "k", "w", budget)
        .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
      assert(got == expect, s"weights=$weights budget=$budget")
      whenever(weights.exists(_._2 > 0)) {
        assert(got.values.sum == budget, "targets must sum to the budget exactly")
      }
    }
  }

  test("windowsFromStream equals the in-Scala next-fit placement on random streams") {
    import spark.implicits._
    val docsGen = Gen.choose(1, 12).flatMap(n =>
      Gen.listOfN(n, Gen.choose(1, 9)).map(_.zipWithIndex
        .map { case (len, i) => (i.toLong + 1L, len) }))
    forAll(Gen.zip(docsGen, Gen.choose(1L, 12L))) { case (docs, budget) =>
      val shards = 2
      // the operator's scramble/shard math, in Scala
      def scramble(id: Long) = ((id % 1000003L) * 2654435761L) % 1000000007L
      val expect = docs
        .groupBy { case (id, _) => scramble(id) % shards }
        .flatMap { case (shard, members) =>
          val ordered = members.sortBy { case (id, _) => (scramble(id), id) }
          var (seq, acc) = (0L, budget + 1) // first row opens seq 1
          ordered.flatMap { case (id, len) =>
            if (acc + len > budget) { seq += 1; acc = len.toLong }
            else acc += len
            // the doc's tokens start after its predecessors' mass
            val start = acc - len
            (1 to len).map(p => (shard, seq, start + p, id))
          }
        }.toSet
      val stream = docs.flatMap { case (id, len) =>
        (1 to len).map(p => (id, p.toLong, 0L)) }
        .toDF("doc_id", "pos", "token_id")
      val got = graft.text.Bpe
        .windowsFromStream(stream, "doc_id", shards, budget)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      assert(got == expect, s"docs=$docs budget=$budget")
    }
  }
}
