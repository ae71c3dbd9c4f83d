package graft.text

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftglue.GraftBridge

import graft.functions.{BpeMerges, BpeSymbols, BpeTokenCount}

/** Byte-pair-encoding merge training — the tokenizer-construction
  * step of an LLM data pipeline (Sennrich et al.'s algorithm, the
  * GPT/Llama tokenizer family's core): starting from characters,
  * repeatedly find the most frequent ADJACENT symbol pair across the
  * corpus and fuse it into one symbol; the ordered merge list IS the
  * trained tokenizer.
  *
  * Scale shape (the trick every real BPE trainer uses): the corpus
  * collapses to the (word, count) grain FIRST — one tokenize pass and
  * one aggregate — and all `rounds` iterations run over that bounded
  * relation, never the corpus. Per round: one narrow pair expansion
  * (`zip_with` over the symbol array — no shuffle), one small
  * (pair → weighted count) aggregate, a 1-row argmax collected to the
  * driver (the Lloyd-iteration posture PQ codebook training already
  * uses), and one codegen'd literal `replace` applying the merge to
  * every word's symbol string.
  *
  * Determinism contract (what makes this ORACLE-CHECKABLE where real
  * trainers differ in tie handling): argmax ties break on (count
  * DESC, left ASC, right ASC); merge application is ONE leftmost
  * non-overlapping literal-string replace pass — `replace(s, ' l r ',
  * ' lr ')` over the space-joined, space-padded symbol string — whose
  * semantics are identical in Java and DuckDB (an occurrence sharing
  * its boundary space with a just-replaced occurrence defers to a
  * later round; stated variant of greedy pair fusion). Symbols must
  * stay free of spaces and quotes — true from character
  * initialization over a whitespace-tokenized corpus, and required
  * (the merge of two clean symbols is clean).
  *
  * Output: one row per executed round — (round, l_sym, r_sym, merged,
  * pair_n); stops early if every word has fused to a single symbol. */
object Bpe {

  def trainMerges(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      rounds: Int,
      pretokenize: Boolean = false): DataFrame =
    trainLoop(docs, textCol, rounds, pretokenize)._1

  /** The shared training loop: returns (merge table, final
    * (symbol-string, count) state) — [[trainMerges]] publishes the
    * first, [[vocabulary]] aggregates the second.
    *
    * `pretokenize` = GPT-style class pre-tokenization: instead of
    * whitespace words, the merge units are [[TextOps.BpeishPattern]]
    * classes (letter runs / digit runs / single marks), so a merge
    * can NEVER cross a class boundary — punctuation does not fuse
    * into words, version strings split into their runs. The regex
    * lives in the Java ∩ RE2 subset, so the oracle extracts the
    * identical units. */
  private def trainLoop(
      docs: DataFrame,
      textCol: String,
      rounds: Int,
      pretokenize: Boolean = false): (DataFrame, DataFrame) = {
    require(rounds >= 1 && rounds <= 64, "rounds must be in [1, 64]")
    val spark = docs.sparkSession
    import spark.implicits._

    // corpus → bounded (symbol-string, count) grain: ' a b c ' padded
    // so every symbol occurrence is space-delimited on both sides
    val units =
      if (pretokenize)
        explode(expr(
          s"regexp_extract_all($textCol, '${TextOps.BpeishPattern}', 0)"))
      else explode(split(col(textCol), " "))
    val words = docs
      .select(units.as("word"))
      .where(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("c"))
      .select(
        concat(lit(" "), regexp_replace(col("word"), "(.)", "$1 ")).as("s"),
        col("c"))

    var state = graft.CacheScope.persisted(words)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var exhausted = false
    for (round <- 1 to rounds if !exhausted) {
      val top: Array[Row] = state
        // single-symbol words carry no pairs (and slice-length 0 is
        // not worth relying on) — drop them before the expansion
        .where(expr("size(split(trim(s), ' ')) >= 2"))
        .select(expr(
          "explode(zip_with(" +
            "slice(split(trim(s), ' '), 1, size(split(trim(s), ' ')) - 1), " +
            "slice(split(trim(s), ' '), 2, size(split(trim(s), ' ')) - 1), " +
            "(x, y) -> struct(x AS l, y AS r))) AS p"), col("c"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum("c").as("n"))
        .orderBy(col("n").desc, col("l").asc, col("r").asc)
        .limit(1)
        .collect()
      if (top.isEmpty) exhausted = true
      else {
        val (l, r, n) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        require(!l.contains("'") && !r.contains("'"),
          "symbol universe must be quote-free (whitespace-tokenized corpus)")
        merges += ((round, l, r, n))
        // one leftmost non-overlapping literal replace — the merge
        val next = state
          .select(expr(s"replace(s, ' $l $r ', ' $l$r ')").as("s"), col("c"))
        state = graft.CacheScope.persisted(next)
      }
    }
    val mergeTable = merges.toSeq
      .toDF("round", "l_sym", "r_sym", "pair_n")
      .select(col("round"), col("l_sym"), col("r_sym"),
        concat(col("l_sym"), col("r_sym")).as("merged"), col("pair_n"))
    (mergeTable, state)
  }

  /** The trained VOCABULARY — the artifact a tokenizer actually
    * ships: every symbol surviving `rounds` merges, its corpus
    * occurrence count, and its dense token id (rank by count DESC,
    * symbol ASC — the deterministic id assignment an embedding table
    * is sized against). The vocabulary grain is DRIVER-BOUNDED by
    * construction: |initial alphabet| + at most `rounds` merged
    * symbols, so the id-assignment window runs over a few dozen rows
    * — the documented k-row exception to the no-global-window rule
    * (the CORPUS never passes through it; counts aggregate at the
    * bounded word grain first).
    * Output: (token_id, symbol, n_occurrences). */
  def vocabulary(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      rounds: Int): DataFrame = {
    val (_, state) = trainLoop(docs, textCol, rounds)
    val counts = state
      .select(explode(split(trim(col("s")), " ")).as("symbol"), col("c"))
      .groupBy("symbol").agg(sum("c").as("n_occurrences"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("n_occurrences").desc, col("symbol").asc)
    counts
      .withColumn("token_id", row_number().over(w).cast("long"))
      .select(col("token_id"), col("symbol"), col("n_occurrences"))
  }

  /** [[vocabulary]] derived from an ALREADY-TRAINED merge list — the
    * stored-posture form: no iterative argmax, just the corpus's
    * word grain with the merge kernel applied in order (identical to
    * the training loop's final state by construction: the loop's
    * state IS the word table with each round's replace applied) and
    * one bounded aggregate. What a pipeline reading the published
    * merge table uses to size its embedding table. */
  def vocabularyFromMerges(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val counts = docs
      .select(explode(split(col(textCol), " ")).as("word"))
      .where(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("c"))
      .select(explode(bpeSymbols("word", merges)).as("symbol"), col("c"))
      .groupBy("symbol").agg(sum("c").as("n_occurrences"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("n_occurrences").desc, col("symbol").asc)
    counts
      .withColumn("token_id", row_number().over(w).cast("long"))
      .select(col("token_id"), col("symbol"), col("n_occurrences"))
  }

  /** The DuckDB twin of [[vocabulary]]: the [[oracleSql]] CTE chain,
    * then the final state's symbols aggregate and rank. */
  def vocabOracleSql(table: String, textCol: String, rounds: Int): String = {
    val trainCtes = oracleSql(table, textCol, rounds)
    val withClause = trainCtes.substring(0, trainCtes.indexOf("\nSELECT 1 AS round"))
    withClause + ",\n" +
      s"""v AS (
         |  SELECT sym AS symbol, SUM(c) AS n_occurrences
         |  FROM (SELECT UNNEST(string_split(trim(s), ' ')) AS sym, c FROM s$rounds)
         |  GROUP BY sym
         |)
         |SELECT CAST(ROW_NUMBER() OVER (ORDER BY n_occurrences DESC, symbol ASC) AS BIGINT)
         |    AS token_id,
         |  symbol, CAST(n_occurrences AS BIGINT) AS n_occurrences
         |FROM v""".stripMargin
  }

  /** The ENCODE side of the tokenizer — apply a learned merge list to
    * the corpus and report each document's token counts (the step a
    * data pipeline actually bills by: context-window budgeting, token
    * accounting, packing all consume ENCODED lengths, not characters).
    *
    * `n_bpe_tokens` comes from the native merge kernel
    * ([[graft.functions.BpeKernel]], the `graft_bpe_tokens`
    * expression, inlined into the scan's generated code): each
    * non-empty space-split word char-splits to its padded symbol
    * string, the merges apply as literal replaces IN MERGE ORDER
    * (order is the tokenizer: applying p+ar before a+r would never
    * fire), and the per-word symbol counts sum to the doc total. A
    * word's symbols depend only on the word, so the kernel memoizes
    * them per task and a repeated word costs one hash lookup. No
    * shuffle, no explode, no join: encode cost is a single corpus map
    * pass at any scale. Word boundaries are hard (symbols never merge
    * across words — the padded per-word string makes that
    * structural). `n_words` and `n_chars_sym` stay higher-order
    * functions. Null text gives null counts.
    * Output: (id, n_words, n_chars_sym, n_bpe_tokens) — n_chars_sym
    * is the pre-merge symbol count, so the compression the merges
    * bought is n_chars_sym − n_bpe_tokens, exactly. */
  def encode(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      merges: Seq[(String, String)],
      carryCols: Seq[String] = Nil): DataFrame = {
    // carryCols ride the narrow map (guide §2.4): a caller that needs
    // a per-doc attribute next to the counts (fertility's language
    // label) keeps the single corpus pass instead of re-joining the
    // encode output back to `docs` on the id — the join carried
    // nothing the source row didn't already have.
    docs.select(
      (col(idCol) +: carryCols.map(col)) ++ Seq(
        expr(s"size(filter(split($textCol, ' '), w -> w <> ''))")
          .cast("long").as("n_words"),
        expr(s"aggregate(filter(split($textCol, ' '), w -> w <> ''), " +
          "0, (a, w) -> a + length(w))").cast("long").as("n_chars_sym"),
        GraftBridge.column(BpeTokenCount(text(textCol), BpeMerges(merges)))
          .as("n_bpe_tokens")): _*)
  }

  /** Each document's post-merge symbols, flattened in (word, symbol)
    * order — [[graft.functions.BpeKernel]] over `textCol`. */
  private def bpeSymbols(textCol: String, merges: Seq[(String, String)]): Column =
    GraftBridge.column(BpeSymbols(text(textCol), BpeMerges(merges)))

  private def text(textCol: String) = UnresolvedAttribute.quotedString(textCol)

  /** [[encode]] with the merges trained on the same corpus — the
    * standard self-tokenization posture (train the tokenizer on the
    * corpus, then bill the corpus in its own tokens). */
  def trainAndEncode(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      rounds: Int): DataFrame = {
    val merges = trainMerges(docs, idCol, textCol, rounds)
      .orderBy("round").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    encode(docs, idCol, textCol, merges)
  }

  /** Encode to the ordered TOKEN-ID STREAM — the artifact training
    * actually consumes: every document becomes its in-order sequence
    * of vocabulary ids (the rows sequence packing / context-window
    * assembly take as input; [[encode]]'s counts are this stream's
    * lengths). The same merge kernel as [[encode]] emits each doc's
    * post-merge symbols flattened in (word, symbol) order; symbols
    * join the vocabulary for their ids. `pos` is the 1-based index
    * into that flattened array, fixed BEFORE the join — per doc,
    * narrow, never a sort or a window. Empty documents have no
    * tokens (a stream, not a stats row — totality is [[encode]]'s
    * job). `vocab` is expected to cover the corpus's post-merge
    * symbols (true by construction under self-tokenization:
    * [[vocabulary]] from the same corpus and rounds). With
    * `oovId = None` and a vocabulary that does NOT cover the corpus,
    * the inner join drops each unknown symbol's row and the stream
    * is GAPPED — the survivors keep their pre-join positions and are
    * not renumbered. With `oovId = Some(v)` an out-of-vocabulary
    * symbol keeps its row carrying token id `v` (the UNK id;
    * reference vocabularies start ids at 1, so 0 is free) — what a
    * streaming encoder applying a FIXED reference tokenizer to
    * arbitrary crawl batches uses, where unseen symbols are a fact of
    * life.
    * Output: (id, pos, token_id, symbol), pos 1-based per doc. */
  def encodeIds(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      merges: Seq[(String, String)],
      vocab: DataFrame,
      oovId: Option[Long] = None): DataFrame = {
    // `pos` is computed NARROWLY from the flattened symbol array —
    // no token-grain sort exchange (guide §2.4). The vocab join stays, but the vocabulary is
    // k-row-bounded by construction (|alphabet| + ≤64 merges), so it
    // is broadcast explicitly (guide §3.1) — size ESTIMATES after the
    // vocabulary's aggregate/window chain are way above reality, so
    // left to the planner this was a full sort-merge exchange of the
    // token stream on the symbol key.
    val syms = docs.select(col(idCol),
      posexplode(bpeSymbols(textCol, merges)).as(Seq("__p0", "symbol")))
      .select(col(idCol), (col("__p0") + 1).cast("long").as("pos"), col("symbol"))
    val joined = oovId match {
      case None => syms.join(
        broadcast(vocab.select(col("token_id"), col("symbol"))), Seq("symbol"))
      case Some(v) => syms
        .join(broadcast(vocab.select(col("token_id"), col("symbol"))),
          Seq("symbol"), "left_outer")
        .withColumn("token_id", coalesce(col("token_id"), lit(v)))
    }
    joined.select(col(idCol), col("pos"), col("token_id"), col("symbol"))
  }

  /** The DuckDB twin of [[encodeIds]] under self-tokenization: the
    * [[oracleSql]] CTE chain learns the merges, the vocabulary ranks
    * the final state's symbols, and the corpus re-explodes at the
    * (doc, word_pos) grain (list index over `range(len)` — order by
    * construction, not engine luck), applies the same replace chain,
    * and joins its post-merge symbols to their ids. */
  def encodeIdsOracleSql(
      table: String, idCol: String, textCol: String, rounds: Int): String = {
    val trainCtes = oracleSql(table, textCol, rounds)
    val withClause = trainCtes.substring(0, trainCtes.indexOf("\nSELECT 1 AS round"))
    val tail =
      s"""v AS (
         |  SELECT sym AS symbol, SUM(c) AS n_occurrences
         |  FROM (SELECT UNNEST(string_split(trim(s), ' ')) AS sym, c FROM s$rounds)
         |  GROUP BY sym
         |), vv AS MATERIALIZED (
         |  SELECT ROW_NUMBER() OVER (ORDER BY n_occurrences DESC, symbol ASC)
         |      AS token_id, symbol
         |  FROM v
         |), dw AS (
         |  SELECT $idCol, i AS word_pos, t[i + 1] AS word
         |  FROM (SELECT $idCol,
         |          list_filter(string_split($textCol, ' '), w -> w <> '') AS t
         |        FROM $table),
         |       UNNEST(range(len(t))) AS u(i)
         |), e0 AS (
         |  SELECT $idCol, word_pos,
         |    ' ' || array_to_string(string_split(word, ''), ' ') || ' ' AS s
         |  FROM dw
         |)""".stripMargin
    val eCtes = (1 to rounds).map { i =>
      s"""e$i AS (
         |  SELECT $idCol, word_pos,
         |    replace(s, ' ' || m.l_sym || ' ' || m.r_sym || ' ',
         |            ' ' || m.l_sym || m.r_sym || ' ') AS s
         |  FROM e${i - 1}, m$i m
         |)""".stripMargin
    }
    val tok =
      s"""tok AS MATERIALIZED (
         |  SELECT $idCol, word_pos, j AS sym_pos, y[j + 1] AS symbol
         |  FROM (SELECT $idCol, word_pos, string_split(trim(s), ' ') AS y FROM e$rounds),
         |       UNNEST(range(len(y))) AS u(j)
         |)""".stripMargin
    (Seq(withClause, tail) ++ eCtes ++ Seq(tok)).mkString("", ",\n", "\n") +
      s"""SELECT tok.$idCol,
         |  CAST(ROW_NUMBER() OVER (PARTITION BY tok.$idCol
         |    ORDER BY tok.word_pos, tok.sym_pos) AS BIGINT) AS pos,
         |  CAST(vv.token_id AS BIGINT) AS token_id, tok.symbol
         |FROM tok JOIN vv USING (symbol)""".stripMargin
  }

  /** The DuckDB twin of [[trainAndEncode]]: the [[oracleSql]] CTE
    * chain learns the merges, then the corpus explodes to the
    * (doc, word) grain and the same replace chain applies round by
    * round (dN = d(N−1) ⋈ mN); per-doc counts aggregate at the end.
    * LEFT JOIN restores totality for documents with no non-empty
    * words (the Spark side's fold over an empty array is 0). */
  def encodeOracleSql(
      table: String, idCol: String, textCol: String, rounds: Int): String = {
    val trainCtes = oracleSql(table, textCol, rounds)
    val withClause = trainCtes.substring(0, trainCtes.indexOf("\nSELECT 1 AS round"))
    val d0 =
      s"""d0 AS (
         |  SELECT $idCol, length(word) AS n_chars_sym,
         |    ' ' || array_to_string(string_split(word, ''), ' ') || ' ' AS s
         |  FROM (SELECT $idCol, UNNEST(string_split($textCol, ' ')) AS word FROM $table)
         |  WHERE word <> ''
         |)""".stripMargin
    val dCtes = (1 to rounds).map { i =>
      s"""d$i AS (
         |  SELECT $idCol, n_chars_sym,
         |    replace(s, ' ' || m.l_sym || ' ' || m.r_sym || ' ',
         |            ' ' || m.l_sym || m.r_sym || ' ') AS s
         |  FROM d${i - 1}, m$i m
         |)""".stripMargin
    }
    val agg =
      s"""enc AS (
         |  SELECT $idCol, COUNT(*) AS n_words, SUM(n_chars_sym) AS n_chars_sym,
         |    SUM(len(string_split(trim(s), ' '))) AS n_bpe_tokens
         |  FROM d$rounds GROUP BY $idCol
         |)""".stripMargin
    (Seq(withClause) ++ Seq(d0) ++ dCtes ++ Seq(agg)).mkString("", ",\n", "\n") +
      s"""SELECT t.$idCol,
         |  CAST(COALESCE(enc.n_words, 0) AS BIGINT) AS n_words,
         |  CAST(COALESCE(enc.n_chars_sym, 0) AS BIGINT) AS n_chars_sym,
         |  CAST(COALESCE(enc.n_bpe_tokens, 0) AS BIGINT) AS n_bpe_tokens
         |FROM $table t LEFT JOIN enc ON t.$idCol = enc.$idCol""".stripMargin
  }

  /** The DuckDB twin of [[trainMerges]], `rounds` unrolled as CTE
    * pairs (pN = weighted adjacent-pair counts over sN-1's symbol
    * strings, mN = the tie-broken argmax, sN = the replace applied
    * corpus-wide) — generated, not hand-maintained, so the two
    * engines can never drift round-structure. Exhaustion composes
    * identically: an empty mN empties every later sN/mN, so both
    * engines emit exactly the executed rounds. */
  def oracleSql(
      table: String, textCol: String, rounds: Int,
      pretokenized: Boolean = false): String = {
    val unitExpr =
      if (pretokenized)
        s"UNNEST(regexp_extract_all($textCol, '${TextOps.BpeishPattern}'))"
      else s"UNNEST(string_split($textCol, ' '))"
    val init =
      s"""w0 AS (
         |  SELECT word, COUNT(*) AS c FROM (
         |    SELECT $unitExpr AS word FROM $table
         |  ) WHERE word <> '' GROUP BY word
         |), s0 AS (
         |  SELECT ' ' || array_to_string(string_split(word, ''), ' ') || ' ' AS s, c
         |  FROM w0
         |)""".stripMargin
    val roundCtes = (1 to rounds).map { i =>
      val prev = s"s${i - 1}"
      s"""p$i AS (
         |  SELECT t[i + 1] AS l_sym, t[i + 2] AS r_sym, SUM(c) AS n
         |  FROM (SELECT string_split(trim(s), ' ') AS t, c FROM $prev),
         |       UNNEST(range(len(t) - 1)) AS u(i)
         |  GROUP BY 1, 2
         |), m$i AS MATERIALIZED (
         |  SELECT l_sym, r_sym, n FROM p$i
         |  ORDER BY n DESC, l_sym ASC, r_sym ASC LIMIT 1
         |), s$i AS MATERIALIZED (
         |  SELECT replace(s, ' ' || m.l_sym || ' ' || m.r_sym || ' ',
         |                 ' ' || m.l_sym || m.r_sym || ' ') AS s, c
         |  FROM $prev, m$i m
         |)""".stripMargin
    }
    val rows = (1 to rounds).map { i =>
      s"SELECT $i AS round, l_sym, r_sym, l_sym || r_sym AS merged, " +
        s"CAST(n AS BIGINT) AS pair_n FROM m$i"
    }
    (Seq(init) ++ roundCtes).mkString("WITH ", ",\n", "\n") +
      rows.mkString("", "\nUNION ALL\n", "")
  }

  /** Tokenizer FERTILITY by language — the standard cross-lingual
    * tokenizer-eval metric (tokens per word; a tokenizer trained on
    * one language family bills others at a worse rate, and a training
    * mixture budgeted in tokens silently re-weights languages by
    * exactly this ratio). One [[encode]] pass with the stored merge
    * chain, one join to the per-doc language label, one aggregate at
    * the |languages| grain; ratios are integer ppm by truncating
    * division on non-negatives (= floor = DuckDB `//`), so the hash
    * is exact. Output: (lang, n_docs, n_words, n_chars_sym,
    * n_bpe_tokens, fertility_ppm, compression_ppm). */
  def fertility(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      langCol: String,
      merges: Seq[(String, String)]): DataFrame =
    // the language label rides encode's narrow map (carryCols) — the
    // old id-keyed join of the encode output back to `docs` was a
    // full exchange of both sides to re-attach a column the source
    // row already had (guide §2.4 remove shuffles outright)
    encode(docs, idCol, textCol, merges, carryCols = Seq(langCol))
      .groupBy(col(langCol))
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_words").as("n_words"),
        sum("n_chars_sym").as("n_chars_sym"),
        sum("n_bpe_tokens").as("n_bpe_tokens"))
      .select(col(langCol), col("n_docs"), col("n_words"),
        col("n_chars_sym"), col("n_bpe_tokens"),
        // ppm numerators in decimal(38,0): a per-language token total
        // above ~9.2e12 would wrap the long ×1e6 silently under
        // non-ANSI Spark while the DuckDB oracle (HUGEINT) stays
        // exact; div returns BIGINT and the ratio is ≤ 1e6·fertility.
        expr("CAST(n_bpe_tokens AS DECIMAL(38,0)) * 1000000" +
          " div greatest(n_words, 1)").as("fertility_ppm"),
        expr("CAST(n_bpe_tokens AS DECIMAL(38,0)) * 1000000" +
          " div greatest(n_chars_sym, 1)").as("compression_ppm"))

  /** The DuckDB twin of [[fertility]]: [[encodeOracleSql]]'s CTE
    * chain (train + per-doc encode), re-aggregated at the language
    * grain with `//` for the ppm ratios. */
  def fertilityOracleSql(
      table: String, idCol: String, textCol: String, langCol: String,
      rounds: Int): String = {
    val enc = encodeOracleSql(table, idCol, textCol, rounds)
    val withClause = enc.substring(0, enc.indexOf(s"\nSELECT t.$idCol"))
    withClause + "\n" +
      s"""SELECT t.$langCol AS $langCol,
         |  CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(COALESCE(enc.n_words, 0)) AS BIGINT) AS n_words,
         |  CAST(SUM(COALESCE(enc.n_chars_sym, 0)) AS BIGINT) AS n_chars_sym,
         |  CAST(SUM(COALESCE(enc.n_bpe_tokens, 0)) AS BIGINT) AS n_bpe_tokens,
         |  CAST(SUM(COALESCE(enc.n_bpe_tokens, 0)) * 1000000
         |    // GREATEST(SUM(COALESCE(enc.n_words, 0)), 1) AS BIGINT) AS fertility_ppm,
         |  CAST(SUM(COALESCE(enc.n_bpe_tokens, 0)) * 1000000
         |    // GREATEST(SUM(COALESCE(enc.n_chars_sym, 0)), 1) AS BIGINT) AS compression_ppm
         |FROM $table t LEFT JOIN enc ON t.$idCol = enc.$idCol
         |GROUP BY t.$langCol""".stripMargin
  }

  /** Deterministic EPOCH ORDERING over packed windows — the loader's
    * last mile: a training epoch consumes [[contextWindows]]'s
    * windows in a seeded pseudo-random order (fixed-order consumption
    * correlates neighboring batches with corpus layout; a float
    * `rand()` is irreproducible across engines and retries). Each
    * window keys a Knuth-style integer scramble of
    * (shard, seq_id, seed); the epoch position is the GLOBAL rank of
    * that scramble — computed by the two-pass distributed row number
    * ([[graft.operators.PrefixSum.globalRowNumber]]), never a
    * single-task window: the window-index grain is corpus tokens /
    * budget, far too large to funnel through one task at 100 TB.
    * Re-seeding permutes epochs; the same seed replays identically.
    * Output: (epoch_pos, shard, seq_id, n_tokens), epoch_pos a
    * 1..|windows| permutation. */
  def epochOrder(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      merges: Seq[(String, String)],
      shards: Int,
      budget: Long,
      seed: Long): DataFrame = {
    // Window COMPOSITION is decided entirely by the |docs|-grain
    // length table (packNextFit over per-doc token counts — the same
    // scramble/shard/order keys windowsFromStream derives), and a
    // window's n_tokens is the sum of its members' lengths — exactly
    // the count of its token-grain rows. So the epoch order never
    // needs token placement at all: pack the narrow encode lengths
    // and aggregate members per (shard, seq_id), skipping the old
    // path's vocabulary pass, symbol explode, vocab join, and
    // placement join (guide §1.2/§2.4 — same relation, none of the
    // token-grain work).
    val scramble = pmod(
      pmod(col(idCol), lit(1000003L)) * lit(2654435761L), lit(1000000007L))
    val lens = encodeLengths(docs, idCol, textCol, merges)
      .select(col(idCol), col("n_tokens"), scramble.as("scramble"),
        pmod(scramble, lit(shards.toLong)).as("shard"))
    val packed = graft.operators.Packing
      .packNextFit(lens, "shard", "scramble", idCol, "n_tokens", budget)
    // The inner (shard, seq_id, seed) sum is reduced mod 1000000007
    // BEFORE the Knuth multiply (the windowsFromStream pattern): the
    // reduced value is < 2^30, so ×2654435761 (< 2^32) stays < 2^62 —
    // no long wrap at any corpus scale or seed, where the unreduced
    // product wrapped silently past seq_id ~4.4e5. pmod keeps a
    // negative seed non-negative here; the oracle restates it as the
    // sign-safe ((x % M) + M) % M so both engines rank identically.
    val idx = packed.groupBy(col("shard"), col("seq_id"))
      .agg(sum(col("n_tokens")).as("n_tokens"))
      .withColumn("__h", pmod(
        pmod(col("shard") * lit(1000003L) + col("seq_id") * lit(7919L)
          + lit(seed), lit(1000000007L))
          * lit(2654435761L), lit(1000000007L)))
    graft.operators.PrefixSum
      .globalRowNumber(idx, Seq("__h", "shard", "seq_id"), "epoch_pos")._1
      .select(col("epoch_pos"), col("shard"), col("seq_id"), col("n_tokens"))
  }

  /** The DuckDB twin of [[epochOrder]]: the [[contextWindowsOracleSql]]
    * CTE chain up to the packed assignment, aggregated to the window
    * index and ranked by the identical integer scramble. */
  def epochOrderOracleSql(
      table: String, idCol: String, textCol: String, rounds: Int,
      shards: Int, budget: Long, seed: Long): String = {
    val cw = contextWindowsOracleSql(table, idCol, textCol, rounds, shards, budget)
    val withClause = cw.substring(0, cw.indexOf("\nSELECT off.shard"))
    withClause + ",\n" +
      s"""widx AS (
         |  SELECT shard, seq_id, CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
         |  FROM packed GROUP BY shard, seq_id
         |)
         |SELECT CAST(ROW_NUMBER() OVER (ORDER BY
         |    ((((shard * 1000003 + seq_id * 7919 + $seed) % 1000000007
         |        + 1000000007) % 1000000007) * 2654435761) % 1000000007,
         |    shard, seq_id) AS BIGINT) AS epoch_pos,
         |  shard, seq_id, n_tokens
         |FROM widx""".stripMargin
  }

  /** The DuckDB twin of the WINDOW-EXPORT roundtrip (q197): the
    * [[contextWindowsOracleSql]] chain re-derives every placed token,
    * then per-(shard, window) the exported aggregate — token count,
    * distinct docs, and an ORDER-SENSITIVE placement checksum
    * Σ token_id · win_pos (a token at the wrong position moves it) —
    * plus the per-shard file count the one-writer-per-shard JSONL
    * export must produce (ceil(rows / cap)). The export is validated
    * LOSSLESS: the aggregates compute from the read-back files on the
    * Spark side and from the source table here. */
  def windowExportOracleSql(
      table: String, idCol: String, textCol: String, rounds: Int,
      shards: Int, budget: Long, maxRecordsPerFile: Long): String = {
    val cw = contextWindowsOracleSql(table, idCol, textCol, rounds, shards, budget)
    val cut = cw.indexOf("\nSELECT off.shard")
    val withClause = cw.substring(0, cut)
    val finalSelect = cw.substring(cut + 1)
    withClause + ",\n" +
      s"""wexp AS MATERIALIZED (
         |$finalSelect
         |), exp AS (
         |  SELECT shard, seq_id, COUNT(*) AS n_tokens,
         |    COUNT(DISTINCT $idCol) AS n_docs,
         |    SUM(token_id * win_pos) AS placement_sum
         |  FROM wexp GROUP BY shard, seq_id
         |), shf AS (
         |  SELECT shard,
         |    CAST((COUNT(*) + $maxRecordsPerFile - 1) // $maxRecordsPerFile
         |      AS BIGINT) AS n_files
         |  FROM wexp GROUP BY shard
         |)
         |SELECT e.shard, e.seq_id, CAST(e.n_tokens AS BIGINT) AS n_tokens,
         |  CAST(e.n_docs AS BIGINT) AS n_docs,
         |  CAST(e.placement_sum AS BIGINT) AS placement_sum,
         |  shf.n_files
         |FROM exp e JOIN shf USING (shard)""".stripMargin
  }

  /** TOKEN-BUDGET apportionment by language — the mixture-planning
    * step [[fertility]]'s numbers feed: split a global training token
    * budget across languages proportionally to their WORD mass (the
    * size measure fertility doesn't distort — budgeting on raw token
    * counts would hand fertile-tokenizing languages extra share for
    * the same content), integer-exactly via
    * [[graft.operators.Apportion.largestRemainder]]: the per-language
    * targets sum to the budget EXACTLY, the property float shares
    * cannot give. One stored-merges encode pass and one |languages|-
    * grain aggregate; apportionment runs at that bounded grain.
    * Output: (lang, n_words, n_bpe_tokens, target_tokens). */
  def tokenBudget(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      langCol: String,
      merges: Seq[(String, String)],
      budget: Long): DataFrame = {
    val agg = docs.select(col(idCol), col(langCol))
      .join(encode(docs, idCol, textCol, merges), Seq(idCol))
      .groupBy(col(langCol))
      .agg(sum("n_words").as("n_words"),
        sum("n_bpe_tokens").as("n_bpe_tokens"))
    graft.operators.Apportion
      .largestRemainder(agg, langCol, "n_words", budget, "target_tokens")
  }

  /** SLIDING-WINDOW evaluation layout — the standard long-document
    * perplexity-eval shape (score a document longer than the context
    * in overlapping windows so every token is scored EXACTLY ONCE
    * with at least `windowSize − stride` tokens of left context,
    * except the document head which has all the context that exists):
    * window w of a doc with L tokens covers [w·S, min(L, w·S + W));
    * window 0 scores its whole span, window w > 0 scores only its
    * non-overlapped tail [(w−1)·S + W, win_end). The per-window
    * numbers are CLOSED FORMS of (L, w) — no token explode, the row
    * mass is Σ L/S windows, and the only corpus pass is the stored-
    * merges token count. Empty documents carry no windows (nothing
    * to score). Scored spans tile [0, L) exactly — the spec pins the
    * Σ n_scored = L identity and the disjoint-cover property.
    * Output: (id, win_id, win_start, win_end, n_tokens, n_scored). */
  def evalWindows(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      merges: Seq[(String, String)],
      windowSize: Long,
      stride: Long): DataFrame = {
    require(windowSize >= 1, "windowSize must be >= 1")
    require(stride >= 1 && stride <= windowSize,
      "stride must be in [1, windowSize]")
    val (w, s) = (windowSize, stride)
    encode(docs, idCol, textCol, merges)
      .select(col(idCol), col("n_bpe_tokens").as("__L"))
      .where(col("__L") >= 1L)
      .withColumn("__nw",
        when(col("__L") <= w, lit(1L))
          .otherwise(expr(s"(__L - $w + $s - 1) div $s") + lit(1L)))
      .withColumn("win_id", explode(expr("sequence(0L, __nw - 1L)")))
      .withColumn("win_start", col("win_id") * s)
      .withColumn("win_end", least(col("__L"), col("win_id") * s + w))
      .select(col(idCol), col("win_id"), col("win_start"), col("win_end"),
        (col("win_end") - col("win_start")).as("n_tokens"),
        when(col("win_id") === 0L, least(col("__L"), lit(w)))
          .otherwise(greatest(
            col("win_end") - ((col("win_id") - 1L) * s + w), lit(0L)))
          .as("n_scored"))
  }

  /** The DuckDB twin of [[evalWindows]]: the encode chain's per-doc
    * token counts, windows via `range`, the same closed forms. */
  def evalWindowsOracleSql(
      table: String, idCol: String, textCol: String, rounds: Int,
      windowSize: Long, stride: Long): String = {
    val enc = encodeOracleSql(table, idCol, textCol, rounds)
    val withClause = enc.substring(0, enc.indexOf(s"\nSELECT t.$idCol"))
    val (w, s) = (windowSize, stride)
    withClause + ",\n" +
      s"""lw AS (
         |  -- enc's raw SUM is HUGEINT in DuckDB; range() needs BIGINT
         |  SELECT $idCol, CAST(n_bpe_tokens AS BIGINT) AS L
         |  FROM enc WHERE n_bpe_tokens >= 1
         |), wins AS (
         |  SELECT $idCol, L, UNNEST(range(CAST(
         |    CASE WHEN L <= $w THEN 1 ELSE (L - $w + $s - 1) // $s + 1 END
         |    AS BIGINT))) AS win_id
         |  FROM lw
         |)
         |SELECT $idCol, CAST(win_id AS BIGINT) AS win_id,
         |  CAST(win_id * $s AS BIGINT) AS win_start,
         |  CAST(LEAST(L, win_id * $s + $w) AS BIGINT) AS win_end,
         |  CAST(LEAST(L, win_id * $s + $w) - win_id * $s AS BIGINT) AS n_tokens,
         |  CAST(CASE WHEN win_id = 0 THEN LEAST(L, $w)
         |       ELSE GREATEST(LEAST(L, win_id * $s + $w)
         |                     - ((win_id - 1) * $s + $w), 0) END AS BIGINT)
         |    AS n_scored
         |FROM wins""".stripMargin
  }

  /** TEMPERATURE-scaled token budget (α = 1/2) — the standard
    * multilingual rebalancing (the XLM-R/mBERT exponent-smoothing
    * family): apportioning budget ∝ raw word mass starves tail
    * languages, so the mixture weights are p^α with α < 1 — here the
    * α = 1/2 point as INTEGER SQUARE ROOTS of the word masses, so the
    * whole plan stays hash-checkable where a float pow() would drift
    * between engines. isqrt is IEEE double sqrt floor-corrected to
    * exactness with DIVISION-form ±1 checks (`s² > n` restated as
    * `s > n div s` — never squares, so no Long wrap at any corpus
    * size; exact for every n in [0, 2^63)). Same one-encode-pass,
    * |languages|-grain scale shape as [[tokenBudget]]; Apportion's
    * exact-sum property carries to the tempered weights.
    * Output: (lang, n_words, n_bpe_tokens, weight_isqrt,
    * target_tokens). */
  def tokenBudgetTempered(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      langCol: String,
      merges: Seq[(String, String)],
      budget: Long): DataFrame = {
    val s0 = "CAST(FLOOR(SQRT(CAST(n_words AS DOUBLE))) AS BIGINT)"
    val s1 = s"($s0 - (CASE WHEN $s0 > n_words div GREATEST($s0, 1)" +
      " THEN 1 ELSE 0 END))"
    val s2 = s"($s1 + (CASE WHEN n_words div ($s1 + 1) >= $s1 + 1" +
      " THEN 1 ELSE 0 END))"
    val agg = docs.select(col(idCol), col(langCol))
      .join(encode(docs, idCol, textCol, merges), Seq(idCol))
      .groupBy(col(langCol))
      .agg(sum("n_words").as("n_words"),
        sum("n_bpe_tokens").as("n_bpe_tokens"))
      .withColumn("weight_isqrt", expr(s2))
    graft.operators.Apportion
      .largestRemainder(agg, langCol, "weight_isqrt", budget, "target_tokens")
  }

  /** WORDPIECE-style segmentation — greedy LONGEST-MATCH against a
    * trained vocabulary (the BERT tokenizer family's algorithm,
    * completing the trained-tokenizer set beside [[trainMerges]]'s
    * BPE): at each position take the longest vocabulary symbol
    * (bounded by `maxLen`) starting there; a position no symbol
    * covers emits its single character as UNK (token_id 0) and
    * advances one — total, deterministic, and engine-reproducible
    * (no float likelihoods anywhere; the greedy rule IS the spec).
    * The vocabulary is [[vocabularyFromMerges]]'s ranked table, so
    * ids mean the same thing across the BPE and WordPiece paths.
    *
    * Scale shape: segmentation runs at the DISTINCT-WORD grain (one
    * tokenize pass + one distinct — the corpus never re-scans), with
    * the driver-bounded vocabulary broadcast as a hash map; the
    * per-word greedy scan is the documented bounded-grain
    * mapPartitions clause (no shuffle, no state beyond the map —
    * the q20 block-compute justification). A consumer re-joins words
    * to documents on the word key.
    * Output: (word, seg_pos, symbol, token_id); seg_pos is 1-based. */
  def wordpieceSegment(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      merges: Seq[(String, String)],
      maxLen: Int = 8): DataFrame =
    segmentWords(
      docs.select(explode(split(col(textCol), " ")).as("word"))
        .where(col("word") =!= "")
        .distinct(),
      vocabularyFromMerges(docs, idCol, textCol, merges),
      maxLen)

  /** The greedy scan against an EXPLICIT vocabulary — the fixed-
    * tokenizer form (segmenting words the vocabulary was not trained
    * on is where UNK actually fires; a corpus-trained vocabulary by
    * construction covers every surviving corpus symbol).
    * `words` is a one-column (`word`) relation; `vocab` carries
    * (token_id, symbol). */
  def segmentWords(
      words: DataFrame,
      vocab: DataFrame,
      maxLen: Int = 8): DataFrame = {
    require(maxLen >= 1, "maxLen must be >= 1")
    val spark = words.sparkSession
    import spark.implicits._
    val vmap = vocab
      .select("symbol", "token_id").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val bc = spark.sparkContext.broadcast(vmap)
    words.select(col("word")).as[String]
      .mapPartitions { it =>
        val v = bc.value
        it.flatMap { word =>
          // scan by CODE POINT, not UTF-16 unit: the DuckDB oracle
          // slices word[a:b] by code point, so a supplementary-plane
          // char (emoji, rare CJK) must count as ONE position on both
          // engines — String.substring would split its surrogate pair
          val cps = word.codePoints().toArray
          val n = cps.length
          def slice(a: Int, b: Int): String = new String(cps, a, b - a)
          val out = scala.collection.mutable.ArrayBuffer
            .empty[(String, Long, String, Long)]
          var pos = 0
          while (pos < n) {
            // longest vocabulary symbol starting at pos, if any
            var l = math.min(maxLen, n - pos)
            while (l > 1 && !v.contains(slice(pos, pos + l))) l -= 1
            val sub = slice(pos, pos + l)
            v.get(sub) match {
              case Some(tid) =>
                out += ((word, out.length + 1L, sub, tid))
                pos += l
              case None =>
                out += ((word, out.length + 1L, slice(pos, pos + 1), 0L))
                pos += 1
            }
          }
          out
        }
      }
      .toDF("word", "seg_pos", "symbol", "token_id")
  }

  /** The DuckDB twin of [[wordpieceSegment]]: the training chain's
    * ranked vocabulary as a MAP, the distinct-word grain, and the
    * greedy scan as a per-row recursion (list_filter/list_max are
    * scalar — no aggregate in the recursive member). */
  def wordpieceSegmentOracleSql(
      table: String, textCol: String, rounds: Int, maxLen: Int): String = {
    val trainCtes = oracleSql(table, textCol, rounds)
    val withClause = trainCtes
      .substring(0, trainCtes.indexOf("\nSELECT 1 AS round"))
      .replaceFirst("^WITH ", "WITH RECURSIVE ")
    // the longest in-vocab length at `pos`, as a scalar expression
    val best = s"""list_max(list_filter(range(1, ${maxLen + 1}),
                  |    l -> pos + l <= LENGTH(word)
                  |     AND len(m[word[pos + 1 : pos + l]]) > 0))""".stripMargin
    withClause + ",\n" +
      s"""vcb AS MATERIALIZED (
         |  SELECT sym AS symbol, SUM(c) AS n_occurrences
         |  FROM (SELECT UNNEST(string_split(trim(s), ' ')) AS sym, c FROM s$rounds)
         |  GROUP BY sym
         |), vvr AS MATERIALIZED (
         |  SELECT ROW_NUMBER() OVER (ORDER BY n_occurrences DESC, symbol ASC)
         |      AS token_id, symbol
         |  FROM vcb
         |), vmap AS (
         |  SELECT MAP(LIST(symbol), LIST(token_id)) AS m FROM vvr
         |), wds AS MATERIALIZED (
         |  SELECT DISTINCT word FROM (
         |    SELECT UNNEST(string_split($textCol, ' ')) AS word FROM $table
         |  ) WHERE word <> ''
         |), seg AS (
         |  SELECT word, 0 AS pos,
         |    CAST([] AS STRUCT(sym VARCHAR, tid BIGINT)[]) AS segs
         |  FROM wds
         |  UNION ALL
         |  SELECT word,
         |    pos + GREATEST(COALESCE($best, 1), 1) AS pos,
         |    list_append(segs, CASE WHEN COALESCE($best, 0) > 0
         |      THEN struct_pack(
         |        sym := word[pos + 1 : pos + $best],
         |        tid := CAST(m[word[pos + 1 : pos + $best]][1] AS BIGINT))
         |      ELSE struct_pack(sym := word[pos + 1 : pos + 1],
         |        tid := CAST(0 AS BIGINT))
         |      END)
         |  FROM seg, vmap WHERE pos < LENGTH(word)
         |)
         |SELECT word, CAST(g AS BIGINT) AS seg_pos,
         |  segs[g].sym AS symbol, segs[g].tid AS token_id
         |FROM (SELECT word, segs FROM seg WHERE pos = LENGTH(word)),
         |  UNNEST(range(1, len(segs) + 1)) AS u(g)""".stripMargin
  }

  /** UNIGRAM-style VITERBI segmentation — the SentencePiece family's
    * decode rule with an INTEGER-EXACT objective: over all ways to
    * split a word into vocabulary symbols (UNK single chars allowed
    * at weight 0), pick the split maximizing total symbol WEIGHT
    * (corpus occurrence counts — the monotone integer stand-in for
    * the float log-probabilities real unigram LMs maximize, which
    * cannot cross engines bit-exactly). Ties break by fewer tokens,
    * then the earliest split point at each DP step — the DP rule IS
    * the determinism contract, and the oracle replays the identical
    * DP. Against [[wordpieceSegment]]'s greedy scan, Viterbi is
    * GLOBAL: greedy 'abc → abc(4)' loses to 'ab(5)+c(3)' when the
    * weights say so (the spec pins exactly this case).
    *
    * Same scale shape as WordPiece: DISTINCT-WORD grain, bounded
    * vocabulary broadcast, per-word O(len·maxLen) DP in the
    * bounded-grain mapPartitions clause — no shuffle.
    * Output: (word, seg_pos, symbol, token_id). */
  def viterbiSegment(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      merges: Seq[(String, String)],
      maxLen: Int = 8): DataFrame =
    viterbiSegmentWords(
      docs.select(explode(split(col(textCol), " ")).as("word"))
        .where(col("word") =!= "")
        .distinct(),
      vocabularyFromMerges(docs, idCol, textCol, merges),
      maxLen)

  /** The Viterbi DP against an EXPLICIT vocabulary — `vocab` carries
    * (token_id, symbol, n_occurrences); the occurrence count is the
    * weight. */
  def viterbiSegmentWords(
      words: DataFrame,
      vocab: DataFrame,
      maxLen: Int = 8): DataFrame = {
    require(maxLen >= 1, "maxLen must be >= 1")
    val spark = words.sparkSession
    import spark.implicits._
    val vmap = vocab
      .select("symbol", "token_id", "n_occurrences").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val bc = spark.sparkContext.broadcast(vmap)
    words.select(col("word")).as[String]
      .mapPartitions { it =>
        val v = bc.value
        it.flatMap { word =>
          // DP over CODE POINTS (not UTF-16 units) — the oracle's
          // word[a:b]/LENGTH are code-point-based, and a surrogate
          // pair must be one DP cell on both engines
          val cps = word.codePoints().toArray
          val n = cps.length
          // best(i): (score, ntok, path) for the prefix of length i;
          // candidates ordered by (-score, ntok, j ASC) — the pinned
          // DP tie rule, identical to the oracle's list_sort
          val best = new Array[(Long, Int, List[(String, Long)])](n + 1)
          best(0) = (0L, 0, Nil)
          var i = 1
          while (i <= n) {
            var chosen: (Long, Int, Int, String, Long) = null
            var j = math.max(0, i - maxLen)
            while (j < i) {
              val sub = new String(cps, j, i - j)
              val cand = v.get(sub) match {
                case Some((tid, w)) =>
                  val b = best(j)
                  (b._1 + w, b._2 + 1, j, sub, tid)
                case None if j == i - 1 =>
                  val b = best(j)
                  (b._1, b._2 + 1, j, sub, 0L)
                case None => null
              }
              if (cand != null && (chosen == null ||
                  cand._1 > chosen._1 ||
                  (cand._1 == chosen._1 && (cand._2 < chosen._2 ||
                    (cand._2 == chosen._2 && cand._3 < chosen._3)))))
                chosen = cand
              j += 1
            }
            best(i) = (chosen._1, chosen._2,
              best(chosen._3)._3 :+ ((chosen._4, chosen._5)))
            i += 1
          }
          best(n)._3.zipWithIndex.map { case ((sym, tid), k) =>
            (word, k + 1L, sym, tid)
          }
        }
      }
      .toDF("word", "seg_pos", "symbol", "token_id")
  }

  /** The DuckDB twin of [[viterbiSegment]]: the training chain's
    * weighted vocabulary as a MAP, the DP as a per-row recursion
    * carrying the (score, ntok, path) state list — candidate
    * selection is list_sort on (negscore, ntok, j), the same pinned
    * tie rule, with only scalar list functions in the recursive
    * member. */
  def viterbiSegmentOracleSql(
      table: String, textCol: String, rounds: Int, maxLen: Int): String = {
    val trainCtes = oracleSql(table, textCol, rounds)
    val withClause = trainCtes
      .substring(0, trainCtes.indexOf("\nSELECT 1 AS round"))
      .replaceFirst("^WITH ", "WITH RECURSIVE ")
    withClause + ",\n" +
      s"""vcb2 AS MATERIALIZED (
         |  SELECT sym AS symbol, SUM(c) AS n_occurrences
         |  FROM (SELECT UNNEST(string_split(trim(s), ' ')) AS sym, c FROM s$rounds)
         |  GROUP BY sym
         |), vvw AS MATERIALIZED (
         |  SELECT ROW_NUMBER() OVER (ORDER BY n_occurrences DESC, symbol ASC)
         |      AS token_id, symbol, n_occurrences AS w
         |  FROM vcb2
         |), vmap2 AS (
         |  SELECT MAP(LIST(symbol),
         |    LIST(struct_pack(tid := token_id, w := w))) AS m FROM vvw
         |), wds2 AS MATERIALIZED (
         |  SELECT DISTINCT word FROM (
         |    SELECT UNNEST(string_split($textCol, ' ')) AS word FROM $table
         |  ) WHERE word <> ''
         |), dp AS (
         |  SELECT word, 0 AS i,
         |    [struct_pack(score := CAST(0 AS BIGINT), ntok := 0,
         |      path := CAST([] AS STRUCT(sym VARCHAR, tid BIGINT)[]))] AS st
         |  FROM wds2
         |  UNION ALL
         |  SELECT word, i + 1,
         |    list_append(st,
         |      list_transform(
         |        list_sort(list_filter(
         |          list_transform(range(GREATEST(i + 1 - $maxLen, 0), i + 1),
         |          j -> CASE
         |            WHEN len(m[word[j + 1 : i + 1]]) > 0 THEN
         |              struct_pack(
         |                negscore := -(st[j + 1].score
         |                  + m[word[j + 1 : i + 1]][1].w),
         |                ntok := st[j + 1].ntok + 1,
         |                jj := j,
         |                path := list_append(st[j + 1].path,
         |                  struct_pack(sym := word[j + 1 : i + 1],
         |                    tid := CAST(m[word[j + 1 : i + 1]][1].tid
         |                      AS BIGINT))))
         |            WHEN j = i THEN
         |              struct_pack(
         |                negscore := -st[j + 1].score,
         |                ntok := st[j + 1].ntok + 1,
         |                jj := j,
         |                path := list_append(st[j + 1].path,
         |                  struct_pack(sym := word[j + 1 : i + 1],
         |                    tid := CAST(0 AS BIGINT))))
         |            ELSE NULL END),
         |          x -> x IS NOT NULL)),
         |        c -> struct_pack(score := -c.negscore, ntok := c.ntok,
         |          path := c.path))[1])
         |  FROM dp, vmap2 WHERE i < LENGTH(word)
         |)
         |SELECT word, CAST(g AS BIGINT) AS seg_pos,
         |  path[g].sym AS symbol, path[g].tid AS token_id
         |FROM (SELECT word, st[LENGTH(word) + 1].path AS path
         |      FROM dp WHERE i = LENGTH(word)),
         |  UNNEST(range(1, len(path) + 1)) AS u(g)""".stripMargin
  }

  /** The corrected-isqrt fragment over a COLUMN NAME (stage nested
    * isqrts through named columns, never textual nesting — the
    * fragment references its input several times). `div` is the
    * engine's integral-divide token: Spark `div`, DuckDB `//`. */
  private def isqrtOf(c: String, div: String): String = {
    val s0 = s"CAST(FLOOR(SQRT(CAST($c AS DOUBLE))) AS BIGINT)"
    val s1 = s"($s0 - (CASE WHEN $s0 > $c $div GREATEST($s0, 1)" +
      " THEN 1 ELSE 0 END))"
    s"($s1 + (CASE WHEN $c $div ($s1 + 1) >= $s1 + 1 THEN 1 ELSE 0 END))"
  }

  /** The mixture-TEMPERATURE ladder the sweep measures, as
    * (alpha_ppm, weight column) pairs: α = 0 is uniform, α = 1/4 and
    * 1/2 are the isqrt ladder (isqrt∘isqrt realizes 1/4 exactly —
    * the rational-power rungs integer arithmetic can reach), α = 1
    * is raw word mass. */
  val MixtureAlphas: Seq[(Long, String)] = Seq(
    (0L, "__w0"), (250000L, "__w4"), (500000L, "__w2"),
    (1000000L, "n_words"))

  /** MIXTURE-TEMPERATURE sweep — [[tokenBudgetTempered]] extended
    * across the integer-exact α ladder: one apportionment row per
    * (α, language) answering "how hard should this mixture rebalance
    * toward the tail" — α = 1 reproduces q194's raw plan, α = 0 is
    * uniform, 1/2 and 1/4 interpolate. The corpus encodes ONCE to the
    * |languages|-grain aggregate; each α is one k-row apportionment
    * over it (the q199 sweep shape applied to mixtures).
    * Output: (alpha_ppm, lang, n_words, weight, target_tokens). */
  def mixtureSweep(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      langCol: String,
      merges: Seq[(String, String)],
      budget: Long): DataFrame = {
    val agg = graft.CacheScope.persisted(
      docs.select(col(idCol), col(langCol))
        .join(encode(docs, idCol, textCol, merges), Seq(idCol))
        .groupBy(col(langCol))
        .agg(sum("n_words").as("n_words"))
        .withColumn("__w0", lit(1L))
        .withColumn("__w2", expr(isqrtOf("n_words", "div")))
        .withColumn("__w4", expr(isqrtOf("__w2", "div"))))
    MixtureAlphas.map { case (alpha, wc) =>
      graft.operators.Apportion
        .largestRemainder(agg, langCol, wc, budget, "target_tokens")
        .select(lit(alpha).as("alpha_ppm"), col(langCol), col("n_words"),
          col(wc).cast("long").as("weight"), col("target_tokens"))
    }.reduce(_ unionByName _)
  }

  /** The DuckDB twin of [[mixtureSweep]]: the encode chain's language
    * aggregate, the staged isqrt ladder, one apportionment pair per α,
    * rows UNION ALL. */
  def mixtureSweepOracleSql(
      table: String, idCol: String, textCol: String, langCol: String,
      rounds: Int, budget: Long): String = {
    val enc = encodeOracleSql(table, idCol, textCol, rounds)
    val withClause = enc.substring(0, enc.indexOf(s"\nSELECT t.$idCol"))
    val ladder =
      s"""agg AS MATERIALIZED (
         |  SELECT t.$langCol AS $langCol,
         |    CAST(SUM(COALESCE(enc.n_words, 0)) AS BIGINT) AS n_words
         |  FROM $table t LEFT JOIN enc ON t.$idCol = enc.$idCol
         |  GROUP BY t.$langCol
         |), lad AS MATERIALIZED (
         |  SELECT $langCol, n_words, 1 AS __w0,
         |    ${isqrtOf("n_words", "//")} AS __w2
         |  FROM agg
         |), lad2 AS MATERIALIZED (
         |  SELECT $langCol, n_words, __w0, __w2,
         |    ${isqrtOf("__w2", "//")} AS __w4
         |  FROM lad
         |)""".stripMargin
    val perAlpha = MixtureAlphas.map { case (alpha, wc) =>
      s"""ap_$alpha AS (
         |  SELECT $langCol, n_words, $wc AS w,
         |    ($wc * $budget) // GREATEST(SUM($wc) OVER (), 1) AS base,
         |    ($wc * $budget) % GREATEST(SUM($wc) OVER (), 1) AS rem
         |  FROM lad2
         |), rk_$alpha AS (
         |  SELECT $langCol, n_words, w, base,
         |    ROW_NUMBER() OVER (ORDER BY rem DESC, $langCol ASC) AS rk,
         |    $budget - SUM(base) OVER () AS leftover
         |  FROM ap_$alpha
         |)""".stripMargin
    }
    val rows = MixtureAlphas.map { case (alpha, _) =>
      s"""SELECT CAST($alpha AS BIGINT) AS alpha_ppm, $langCol,
         |  CAST(n_words AS BIGINT) AS n_words, CAST(w AS BIGINT) AS weight,
         |  CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT)
         |    AS target_tokens
         |FROM rk_$alpha""".stripMargin
    }
    (Seq(withClause, ladder) ++ perAlpha).mkString("", ",\n", "\n") +
      rows.mkString("", "\nUNION ALL\n", "")
  }

  /** The DuckDB twin of [[tokenBudgetTempered]]: the encode chain,
    * the same division-form corrected isqrt, and the remainder-ranked
    * apportionment over the tempered weights. */
  def tokenBudgetTemperedOracleSql(
      table: String, idCol: String, textCol: String, langCol: String,
      rounds: Int, budget: Long): String = {
    val enc = encodeOracleSql(table, idCol, textCol, rounds)
    val withClause = enc.substring(0, enc.indexOf(s"\nSELECT t.$idCol"))
    withClause + ",\n" +
      s"""agg AS (
         |  SELECT t.$langCol AS $langCol,
         |    SUM(COALESCE(enc.n_words, 0)) AS n_words,
         |    SUM(COALESCE(enc.n_bpe_tokens, 0)) AS n_tok
         |  FROM $table t LEFT JOIN enc ON t.$idCol = enc.$idCol
         |  GROUP BY t.$langCol
         |), isq0 AS (
         |  SELECT $langCol, n_words, n_tok,
         |    CAST(FLOOR(SQRT(CAST(n_words AS DOUBLE))) AS BIGINT) AS s0
         |  FROM agg
         |), isq1 AS (
         |  SELECT $langCol, n_words, n_tok,
         |    s0 - (CASE WHEN s0 > n_words // GREATEST(s0, 1)
         |          THEN 1 ELSE 0 END) AS s1
         |  FROM isq0
         |), wgt AS (
         |  SELECT $langCol, n_words, n_tok,
         |    s1 + (CASE WHEN n_words // (s1 + 1) >= s1 + 1
         |          THEN 1 ELSE 0 END) AS w
         |  FROM isq1
         |), ap AS (
         |  SELECT $langCol, n_words, n_tok, w,
         |    (w * $budget) // GREATEST(SUM(w) OVER (), 1) AS base,
         |    (w * $budget) % GREATEST(SUM(w) OVER (), 1) AS rem
         |  FROM wgt
         |), rk AS (
         |  SELECT $langCol, n_words, n_tok, w, base,
         |    ROW_NUMBER() OVER (ORDER BY rem DESC, $langCol ASC) AS rk,
         |    $budget - SUM(base) OVER () AS leftover
         |  FROM ap
         |)
         |SELECT $langCol, CAST(n_words AS BIGINT) AS n_words,
         |  CAST(n_tok AS BIGINT) AS n_bpe_tokens,
         |  CAST(w AS BIGINT) AS weight_isqrt,
         |  CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT)
         |    AS target_tokens
         |FROM rk""".stripMargin
  }

  /** The DuckDB twin of [[tokenBudget]]: the encode CTE chain
    * aggregated at the language grain, then the largest-remainder
    * arithmetic restated relationally (floor quota + remainder-ranked
    * top-up; `//` ≡ Spark `div` on the non-negative operands). */
  def tokenBudgetOracleSql(
      table: String, idCol: String, textCol: String, langCol: String,
      rounds: Int, budget: Long): String = {
    val enc = encodeOracleSql(table, idCol, textCol, rounds)
    val withClause = enc.substring(0, enc.indexOf(s"\nSELECT t.$idCol"))
    withClause + ",\n" +
      s"""agg AS (
         |  SELECT t.$langCol AS $langCol,
         |    SUM(COALESCE(enc.n_words, 0)) AS n_words,
         |    SUM(COALESCE(enc.n_bpe_tokens, 0)) AS n_tok
         |  FROM $table t LEFT JOIN enc ON t.$idCol = enc.$idCol
         |  GROUP BY t.$langCol
         |), ap AS (
         |  SELECT $langCol, n_words, n_tok,
         |    (n_words * $budget) // GREATEST(SUM(n_words) OVER (), 1) AS base,
         |    (n_words * $budget) % GREATEST(SUM(n_words) OVER (), 1) AS rem
         |  FROM agg
         |), rk AS (
         |  SELECT $langCol, n_words, n_tok, base,
         |    ROW_NUMBER() OVER (ORDER BY rem DESC, $langCol ASC) AS rk,
         |    $budget - SUM(base) OVER () AS leftover
         |  FROM ap
         |)
         |SELECT $langCol, CAST(n_words AS BIGINT) AS n_words,
         |  CAST(n_tok AS BIGINT) AS n_bpe_tokens,
         |  CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT)
         |    AS target_tokens
         |FROM rk""".stripMargin
  }

  /** Truncated-vocabulary COVERAGE — the embedding-table-sizing
    * curve: for each candidate vocabulary cut m, how many of the
    * corpus's token OCCURRENCES the top-m ids cover (ppm). The id
    * order is [[vocabulary]]'s own (count DESC, symbol ASC), so
    * coverage(m) is the best any m-row truncation can do; cuts above
    * |vocab| saturate at 1e6 — the curve's flat tail is part of the
    * answer, not a vacuous row. All work happens at the
    * driver-bounded vocabulary grain (|alphabet| + ≤ rounds symbols);
    * the corpus contributes through the one bounded word aggregate
    * [[vocabularyFromMerges]] already runs.
    * Output: (vocab_cut, n_symbols, covered_occurrences, coverage_ppm). */
  def coverage(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      merges: Seq[(String, String)],
      cuts: Seq[Long]): DataFrame = {
    require(cuts.nonEmpty && cuts.forall(_ >= 1), "cuts must be >= 1")
    val spark = docs.sparkSession
    import spark.implicits._
    val vocab = vocabularyFromMerges(docs, idCol, textCol, merges)
    val total = vocab.agg(sum("n_occurrences").as("__total"))
    cuts.toDF("vocab_cut")
      .join(vocab, col("token_id") <= col("vocab_cut"))
      .groupBy("vocab_cut")
      .agg(count(lit(1)).as("n_symbols"),
        sum("n_occurrences").as("covered_occurrences"))
      .crossJoin(total)
      .select(col("vocab_cut"), col("n_symbols"), col("covered_occurrences"),
        // decimal(38,0) numerator: corpus-scale occurrence totals ×1e6
        // would wrap long silently (the fertility_ppm hazard).
        expr("CAST(covered_occurrences AS DECIMAL(38,0)) * 1000000" +
          " div greatest(__total, 1)").as("coverage_ppm"))
  }

  /** The DuckDB twin of [[coverage]]: the training CTE chain, the
    * ranked-vocabulary CTE, and a VALUES cut list joined on
    * token_id <= cut. */
  def coverageOracleSql(
      table: String, textCol: String, rounds: Int, cuts: Seq[Long]): String = {
    val trainCtes = oracleSql(table, textCol, rounds)
    val withClause = trainCtes.substring(0, trainCtes.indexOf("\nSELECT 1 AS round"))
    val values = cuts.map(c => s"($c)").mkString(", ")
    withClause + ",\n" +
      s"""v AS (
         |  SELECT sym AS symbol, SUM(c) AS n_occurrences
         |  FROM (SELECT UNNEST(string_split(trim(s), ' ')) AS sym, c FROM s$rounds)
         |  GROUP BY sym
         |), vv AS MATERIALIZED (
         |  SELECT ROW_NUMBER() OVER (ORDER BY n_occurrences DESC, symbol ASC)
         |      AS token_id, symbol, n_occurrences
         |  FROM v
         |)
         |SELECT CAST(cuts.vocab_cut AS BIGINT) AS vocab_cut,
         |  CAST(COUNT(*) AS BIGINT) AS n_symbols,
         |  CAST(SUM(vv.n_occurrences) AS BIGINT) AS covered_occurrences,
         |  CAST(SUM(vv.n_occurrences) * 1000000
         |    // GREATEST((SELECT SUM(n_occurrences) FROM v), 1) AS BIGINT) AS coverage_ppm
         |FROM (VALUES $values) cuts(vocab_cut)
         |JOIN vv ON vv.token_id <= cuts.vocab_cut
         |GROUP BY cuts.vocab_cut""".stripMargin
  }

  /** CONTEXT-WINDOW assembly — the final artifact between [[encodeIds]]'s
    * per-document streams and the training loader: token-id streams
    * packed into fixed-budget windows, every token placed at its
    * absolute position within its window. Composes the two audited
    * pieces: per-doc stream lengths (from the stream itself, so the
    * packing and the placement can never disagree about a length)
    * feed [[graft.operators.Packing.packNextFit]]'s order-preserving
    * next-fit recurrence per shard; inside a window, a document's
    * tokens sit at offset + pos where offset is the windowed prefix
    * sum of its predecessors' lengths (the q158 posture) — so
    * win_pos is 1-based and gapless per (shard, seq_id). Documents
    * with no tokens pack nothing (a window stream, not a stats row).
    *
    * Scale shape: the stream is persisted (it is consumed by the
    * length aggregate AND the final placement join); packing
    * shuffles |docs|-grain length rows on the shard key; the
    * placement is one |tokens|-grain equi-join on the doc id —
    * token rows shuffle once, text never re-tokenizes.
    * Output: (shard, seq_id, win_pos, idCol, token_id). */
  def contextWindows(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      merges: Seq[(String, String)],
      shards: Int,
      budget: Long): DataFrame = {
    val vocab = vocabularyFromMerges(docs, idCol, textCol, merges)
    val stream = graft.CacheScope.persisted(
      encodeIds(docs, idCol, textCol, merges, vocab))
    windowsFromStream(stream, idCol, shards, budget)
  }

  /** The packing + placement half of [[contextWindows]] over an
    * ALREADY-ENCODED (id, pos, token_id) stream — what a streaming
    * assembler applies per batch (the stream arrives encoded from the
    * versioned tokenizer; re-deriving it here would re-tokenize).
    * The caller persists the stream if it is not already
    * materialized — it is consumed by the length aggregate AND the
    * placement join. */
  def windowsFromStream(
      stream: DataFrame,
      idCol: String,
      shards: Int,
      budget: Long): DataFrame = {
    require(shards >= 1, "shards must be >= 1")
    val scramble = pmod(
      pmod(col(idCol), lit(1000003L)) * lit(2654435761L), lit(1000000007L))
    val lens = stream.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"))
      .select(col(idCol), col("n_tokens"), scramble.as("scramble"),
        pmod(scramble, lit(shards.toLong)).as("shard"))
    val packed = graft.operators.Packing
      .packNextFit(lens, "shard", "scramble", idCol, "n_tokens", budget)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("shard", "seq_id").orderBy(col("scramble"), col(idCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val offsets = packed
      .join(lens.select(col(idCol), col("scramble")), Seq(idCol))
      .withColumn("offset", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .select(col(idCol), col("shard"), col("seq_id"), col("offset"))
    stream.join(offsets, Seq(idCol))
      .select(col("shard"), col("seq_id"),
        (col("offset") + col("pos")).as("win_pos"),
        col(idCol), col("token_id"))
  }

  /** PACKING-EFFICIENCY curve — the budget-tuning eval beside
    * [[coverage]]'s vocab-sizing curve: for each candidate window
    * budget, how many windows the corpus packs into and what fraction
    * of their capacity is PADDING (ppm) — the attention mass a loader
    * wastes at that budget. Oversized documents (longer than the
    * budget) still take one window each under next-fit, so their
    * overflow makes padding_ppm exact-by-definition against the
    * n_windows × budget capacity, clamped at 0 via GREATEST — the
    * curve stays meaningful even where single documents dominate.
    * All packing runs over the |docs|-grain length table (one narrow
    * [[encode]] pass — see [[encodeLengths]] — shared across budgets);
    * output is |budgets| rows.
    * Output: (budget, n_windows, total_tokens, padding_ppm). */
  def packingEfficiency(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      merges: Seq[(String, String)],
      shards: Int,
      budgets: Seq[Long]): DataFrame =
    packingCurve(encodeLengths(docs, idCol, textCol, merges),
      idCol, shards, budgets, "arrival")
      .drop("order_policy")

  /** The |docs|-grain (id, n_tokens) length table from ONE narrow
    * [[encode]] pass — the packing family's real input. The old path
    * built the full token-grain [[encodeIds]] stream (vocabulary
    * pass + symbol explode + vocab join + per-doc window) and then
    * immediately aggregated it back to per-doc counts; the count of
    * a doc's stream rows IS its `n_bpe_tokens` (Σ per-word symbol
    * counts, both by construction), and docs with zero tokens pack
    * nothing in either form — so this is the same relation for a
    * tiny fraction of the work (guide §1.2: fix the algorithm before
    * the configuration; §2.4 remove shuffles outright — no explode,
    * no join, no window). */
  private def encodeLengths(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      merges: Seq[(String, String)]): DataFrame =
    encode(docs, idCol, textCol, merges)
      .where(col("n_bpe_tokens") >= 1L)
      .select(col(idCol), col("n_bpe_tokens").as("n_tokens"))

  /** The packing ORDER POLICIES the sweep measures. `arrival` is the
    * scramble order production packing uses (q189); `inc`/`dec` place
    * shortest-/longest-first. NONE dominates under next-fit — that is
    * the point of measuring: first-fit-decreasing's classic guarantee
    * does NOT transfer to next-fit (a run of just-over-half-budget
    * docs packed decreasing closes every window half-empty that
    * arrival order would have topped up with interleaved short docs;
    * the real corpus shows dec losing to arrival at budget 512 and
    * winning at 128) — so the policy choice is an empirical,
    * per-budget call, and this sweep is the eval that makes it. */
    val OrderPolicies: Seq[String] = Seq("arrival", "inc", "dec")

  private def packingCurve(
      lengths: DataFrame,
      idCol: String,
      shards: Int,
      budgets: Seq[Long],
      policy: String): DataFrame = {
    require(budgets.nonEmpty && budgets.forall(_ >= 1), "budgets must be >= 1")
    require(OrderPolicies.contains(policy), s"unknown order policy $policy")
    val scramble = pmod(
      pmod(col(idCol), lit(1000003L)) * lit(2654435761L), lit(1000000007L))
    // the policy only reorders WITHIN a shard (the shard assignment
    // never moves); ties always break by doc id ASC inside packNextFit,
    // so every policy is a total order both engines re-derive
    val ord = policy match {
      case "arrival" => col("scramble")
      case "inc"     => col("n_tokens")
      case "dec"     => -col("n_tokens")
    }
    val lens = graft.CacheScope.persisted(lengths
      .select(col(idCol), col("n_tokens"), scramble.as("scramble"),
        pmod(scramble, lit(shards.toLong)).as("shard"))
      .withColumn("__ord", ord))
    budgets.map { b =>
      graft.operators.Packing
        .packNextFit(lens, "shard", "__ord", idCol, "n_tokens", b)
        .groupBy()
        .agg(countDistinct(col("shard"), col("seq_id")).as("n_windows"),
          sum(col("n_tokens")).as("total_tokens"))
        .select(lit(b).as("budget"), lit(policy).as("order_policy"),
          col("n_windows"), col("total_tokens"),
          // n_windows·budget ≈ corpus tokens; ×1e6 needs decimal(38,0)
          expr(s"CAST(greatest(n_windows * $b - total_tokens, 0)" +
            s" AS DECIMAL(38,0)) * 1000000" +
            s" div greatest(n_windows * $b, 1)").as("padding_ppm"))
    }.reduce(_ unionByName _)
  }

  /** PACKING-ORDER sweep — [[packingEfficiency]] extended across the
    * order policies: one curve row per (budget, policy) answering
    * "which intra-shard placement order should the packer use at this
    * budget". The corpus encodes ONCE (a narrow per-doc length pass
    * shared by all |policies| × |budgets| recurrences, each a
    * per-shard O(n) fold).
    * Output: (budget, order_policy, n_windows, total_tokens,
    * padding_ppm). */
  def packingOrderSweep(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      merges: Seq[(String, String)],
      shards: Int,
      budgets: Seq[Long]): DataFrame = {
    // one narrow encode pass shared by all |policies| × |budgets|
    // recurrences — persisted because every packingCurve policy builds
    // its own ordered lens over it (see encodeLengths for why the
    // token-grain stream is gone)
    val lengths = graft.CacheScope.persisted(
      encodeLengths(docs, idCol, textCol, merges))
    OrderPolicies.map(packingCurve(lengths, idCol, shards, budgets, _))
      .reduce(_ unionByName _)
  }

  /** The DuckDB twin of [[packingEfficiency]]: the token-stream CTE
    * chain aggregates to per-doc lengths once; each budget's next-fit
    * recurrence unrolls as its own recursive CTE pair and the curve
    * rows UNION ALL. */
  def packingEfficiencyOracleSql(
      table: String, idCol: String, textCol: String, rounds: Int,
      shards: Int, budgets: Seq[Long]): String =
    packingCurveOracleSql(table, idCol, textCol, rounds, shards, budgets,
      Seq("arrival"), withPolicyCol = false)

  /** The DuckDB twin of [[packingOrderSweep]]: one ranked CTE per
    * policy (each MATERIALIZED — it feeds its budgets' recursions),
    * one recursive next-fit CTE per (policy, budget), curve rows
    * UNION ALL with the policy literal. */
  def packingOrderSweepOracleSql(
      table: String, idCol: String, textCol: String, rounds: Int,
      shards: Int, budgets: Seq[Long]): String =
    packingCurveOracleSql(table, idCol, textCol, rounds, shards, budgets,
      OrderPolicies, withPolicyCol = true)

  private def packingCurveOracleSql(
      table: String, idCol: String, textCol: String, rounds: Int,
      shards: Int, budgets: Seq[Long], policies: Seq[String],
      withPolicyCol: Boolean): String = {
    val enc = encodeIdsOracleSql(table, idCol, textCol, rounds)
    val cut = enc.indexOf(s"\nSELECT tok.$idCol")
    val withClause = enc.substring(0, cut)
      .replaceFirst("^WITH ", "WITH RECURSIVE ")
    val lens =
      s"""ln AS MATERIALIZED (
         |  SELECT $idCol, COUNT(*) AS n_tokens,
         |    (($idCol % 1000003) * 2654435761) % 1000000007 AS scramble,
         |    (($idCol % 1000003) * 2654435761) % 1000000007 % $shards AS shard
         |  FROM tok GROUP BY $idCol
         |)""".stripMargin
    // Spark's __ord = scramble / n_tokens / −n_tokens with id ASC ties,
    // restated as the equivalent ORDER BY per policy
    def orderOf(p: String) = p match {
      case "arrival" => s"scramble, $idCol"
      case "inc"     => s"n_tokens ASC, $idCol"
      case "dec"     => s"n_tokens DESC, $idCol"
    }
    val ranked = policies.map { p =>
      s"""o_$p AS MATERIALIZED (
         |  SELECT shard, $idCol, n_tokens,
         |    ROW_NUMBER() OVER (PARTITION BY shard
         |                       ORDER BY ${orderOf(p)}) AS rn
         |  FROM ln
         |)""".stripMargin
    }
    val recursions = for (p <- policies; b <- budgets) yield
      s"""pk_${p}_$b AS (
         |  SELECT shard, n_tokens, rn, CAST(1 AS BIGINT) AS seq_id, n_tokens AS acc
         |  FROM o_$p WHERE rn = 1
         |  UNION ALL
         |  SELECT o.shard, o.n_tokens, o.rn,
         |    CASE WHEN p.acc + o.n_tokens > $b
         |         THEN p.seq_id + 1 ELSE p.seq_id END,
         |    CASE WHEN p.acc + o.n_tokens > $b
         |         THEN o.n_tokens ELSE p.acc + o.n_tokens END
         |  FROM pk_${p}_$b p JOIN o_$p o ON o.shard = p.shard AND o.rn = p.rn + 1
         |)""".stripMargin
    val rows = for (p <- policies; b <- budgets) yield {
      val policyCol =
        if (withPolicyCol) s"\n  '$p' AS order_policy," else ""
      s"""SELECT CAST($b AS BIGINT) AS budget,$policyCol
         |  CAST(COUNT(DISTINCT (shard, seq_id)) AS BIGINT) AS n_windows,
         |  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
         |  CAST(GREATEST(COUNT(DISTINCT (shard, seq_id)) * $b - SUM(n_tokens), 0)
         |    * 1000000
         |    // GREATEST(COUNT(DISTINCT (shard, seq_id)) * $b, 1) AS BIGINT)
         |    AS padding_ppm
         |FROM pk_${p}_$b""".stripMargin
    }
    (Seq(withClause, lens) ++ ranked ++ recursions).mkString("", ",\n", "\n") +
      rows.mkString("", "\nUNION ALL\n", "")
  }

  /** The DuckDB twin of [[contextWindows]] under self-tokenization:
    * [[encodeIdsOracleSql]]'s CTE chain re-derives the ordered
    * stream, per-doc lengths feed the q158-shape recursive next-fit
    * CTE, and the final select places every token at offset + pos.
    * The whole chain lives in one WITH RECURSIVE clause (DuckDB
    * allows non-recursive CTEs alongside the recursive member). */
  def contextWindowsOracleSql(
      table: String, idCol: String, textCol: String, rounds: Int,
      shards: Int, budget: Long): String = {
    val enc = encodeIdsOracleSql(table, idCol, textCol, rounds)
    val cut = enc.indexOf(s"\nSELECT tok.$idCol")
    val withClause = enc.substring(0, cut)
      .replaceFirst("^WITH ", "WITH RECURSIVE ")
    withClause + ",\n" +
      s"""ts AS MATERIALIZED (
         |  SELECT tok.$idCol,
         |    ROW_NUMBER() OVER (PARTITION BY tok.$idCol
         |      ORDER BY tok.word_pos, tok.sym_pos) AS pos,
         |    vv.token_id
         |  FROM tok JOIN vv USING (symbol)
         |), ln AS MATERIALIZED (
         |  SELECT $idCol, COUNT(*) AS n_tokens,
         |    (($idCol % 1000003) * 2654435761) % 1000000007 AS scramble,
         |    (($idCol % 1000003) * 2654435761) % 1000000007 % $shards AS shard
         |  FROM ts GROUP BY $idCol
         |), o AS MATERIALIZED (
         |  SELECT shard, $idCol, n_tokens, scramble,
         |    ROW_NUMBER() OVER (PARTITION BY shard
         |                       ORDER BY scramble, $idCol) AS rn
         |  FROM ln
         |), packed AS (
         |  SELECT shard, $idCol, n_tokens, rn,
         |    CAST(1 AS BIGINT) AS seq_id, n_tokens AS acc
         |  FROM o WHERE rn = 1
         |  UNION ALL
         |  SELECT o.shard, o.$idCol, o.n_tokens, o.rn,
         |    CASE WHEN p.acc + o.n_tokens > $budget
         |         THEN p.seq_id + 1 ELSE p.seq_id END,
         |    CASE WHEN p.acc + o.n_tokens > $budget
         |         THEN o.n_tokens ELSE p.acc + o.n_tokens END
         |  FROM packed p JOIN o ON o.shard = p.shard AND o.rn = p.rn + 1
         |), off AS (
         |  SELECT shard, seq_id, $idCol,
         |    CAST(COALESCE(SUM(n_tokens) OVER (
         |      PARTITION BY shard, seq_id ORDER BY rn
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         |      0) AS BIGINT) AS o_set
         |  FROM packed
         |)
         |SELECT off.shard, off.seq_id,
         |  CAST(off.o_set + ts.pos AS BIGINT) AS win_pos,
         |  ts.$idCol, CAST(ts.token_id AS BIGINT) AS token_id
         |FROM ts JOIN off USING ($idCol)""".stripMargin
  }
}
