package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `graft_nfc(text)`: Unicode NFC normalization — the canonical
  * composition pass every text-cleanup pipeline runs first (e + U+0301
  * → é), which Spark's function library lacks entirely. A native
  * unary expression with codegen (one static `java.text.Normalizer`
  * call inlined into the scan stage — no UDF serialization, stays
  * inside WholeStageCodegen), chosen over a UDF for exactly the
  * reason [[DotProduct]] was: this runs once per document in the hot
  * corpus pass. Cross-engine twin: DuckDB's `nfc_normalize` — both
  * implement UAX #15 NFC, so normalized output is hash-gate
  * comparable. */
case class NfcNormalize(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def prettyName: String = "graft_nfc"

  override protected def nullSafeEval(input: Any): Any =
    UTF8String.fromString(java.text.Normalizer.normalize(
      input.asInstanceOf[UTF8String].toString,
      java.text.Normalizer.Form.NFC))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      "UTF8String.fromString(java.text.Normalizer.normalize(" +
        s"$c.toString(), java.text.Normalizer.Form.NFC))")

  override protected def withNewChildInternal(newChild: Expression): NfcNormalize =
    copy(child = newChild)
}

/** `graft_grams(text, buckets)`: hashed unigram+bigram bucket ids in
  * one native pass — the codegen'd replacement for q170's
  * higher-order-function chain (split → per-word char-fold aggregate →
  * zip_with bigrams → concat → pmod), which profiling showed dominates
  * the importance-reweighting scan (the carried "native expression
  * where HOFs dominate" item, finally measurement-proven). Semantics
  * are BIT-IDENTICAL to the HOF form and its DuckDB oracle: words
  * split on single spaces, empties dropped with bigram adjacency
  * surviving the drop, per-word hash = fold(codepoints)(acc·31 + cp)
  * mod 1e9+7 seeded at 7, bigram = (h₁·131 + h₂) mod p, bucket =
  * value mod `buckets` — one tight codepoint loop per document, no
  * per-word array allocation, inlined into WholeStageCodegen via a
  * static call. */
case class GramBuckets(child: Expression, buckets: Int)
    extends UnaryExpression {
  require(buckets > 0, "graft_grams needs a positive bucket count")
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.LongType, containsNull = false)
  override def prettyName: String = "graft_grams"

  override protected def nullSafeEval(input: Any): Any =
    GramBuckets.compute(input.asInstanceOf[UTF8String], buckets)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.GramBuckets.compute($c, $buckets)")

  override protected def withNewChildInternal(newChild: Expression): GramBuckets =
    copy(child = newChild)
}

object GramBuckets {
  private val P = 1000000007L

  /** One pass over the document's code points: fold word hashes,
    * emit a unigram bucket per word and a bigram bucket per adjacent
    * pair (empties skipped, adjacency across the skip). */
  def compute(text: UTF8String, buckets: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    val s = text.toString
    val out = new scala.collection.mutable.ArrayBuffer[Long](16)
    val bis = new scala.collection.mutable.ArrayBuffer[Long](16)
    var prev = -1L
    var h = 7L
    var inWord = false
    var i = 0
    val n = s.length
    while (i <= n) {
      val atEnd = i == n
      val cp = if (atEnd) ' '.toInt else s.codePointAt(i)
      if (cp == ' '.toInt) {
        if (inWord) {
          out += java.lang.Math.floorMod(h, buckets.toLong)
          if (prev >= 0) bis += java.lang.Math.floorMod((prev * 131L + h) % P, buckets.toLong)
          prev = h
          h = 7L
          inWord = false
        }
        i += 1
      } else {
        h = (h * 31L + cp) % P
        inWord = true
        i += Character.charCount(cp)
      }
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
      (out ++ bis).toArray)
  }
}

/** An ordered BPE merge list compiled to its literal replace pairs —
  * the tokenizer [[BpeKernel]] applies. Prints as its size so a plan
  * carrying a 64-merge list stays readable. */
final case class BpeMerges(pairs: Seq[(String, String)]) {
  private val find = pairs.map { case (l, r) => s" $l $r " }.toArray
  private val fused = pairs.map { case (l, r) => s" $l$r " }.toArray

  /** One word's post-merge symbols, by the merge chain's own string
    * operations: pad every code point Java-regex `.` matches with a
    * trailing space (line terminators stay glued to the next symbol,
    * a surrogate pair is one code point), apply each merge as ONE
    * leftmost non-overlapping literal replace in list order, strip
    * ASCII spaces at both ends, split on single spaces keeping empty
    * pieces. */
  def symbolsOf(word: String): Array[UTF8String] = {
    val sb = new java.lang.StringBuilder(2 * word.length + 1).append(' ')
    var i = 0
    while (i < word.length) {
      val cp = word.codePointAt(i)
      sb.appendCodePoint(cp)
      if (!BpeMerges.isLineTerminator(cp)) sb.append(' ')
      i += Character.charCount(cp)
    }
    var s = sb.toString
    var m = 0
    while (m < find.length) {
      s = s.replace(find(m), fused(m))
      m += 1
    }
    var a = 0
    var b = s.length
    while (a < b && s.charAt(a) == ' ') a += 1
    while (b > a && s.charAt(b - 1) == ' ') b -= 1
    s.substring(a, b).split(" ", -1).map(UTF8String.fromString)
  }

  override def toString: String = s"${pairs.length} merges"
}

object BpeMerges {
  /** The code points Java-regex `.` does not match (no DOTALL, no
    * UNIX_LINES). */
  private def isLineTerminator(cp: Int): Boolean =
    cp == '\n' || cp == '\r' || cp == 0x85 || cp == 0x2028 || cp == 0x2029
}

/** The BPE encode kernel: a document's words (maximal runs of
  * non-space bytes — `split(text, ' ')` with the empties dropped) each
  * map through [[BpeMerges.symbolsOf]], memoized per word. A word's
  * symbols depend on nothing but the word once the merges are fixed,
  * and corpora repeat words heavily, so the hot path is one hash
  * lookup per word. One kernel lives per generated-code instance
  * (one task's partition), so the memo is thread-confined; it is
  * dropped whole when it reaches [[BpeKernel.MemoWords]] entries. */
final class BpeKernel(merges: BpeMerges) {
  private val memo = new java.util.HashMap[UTF8String, Array[UTF8String]]()

  private def word(text: UTF8String, from: Int, until: Int): Array[UTF8String] = {
    // look up through a view of the row's bytes; only a miss copies
    val view = UTF8String.fromAddress(
      text.getBaseObject, text.getBaseOffset + from, until - from)
    val hit = memo.get(view)
    if (hit != null) hit
    else {
      val syms = merges.symbolsOf(view.toString)
      if (memo.size >= BpeKernel.MemoWords) memo.clear()
      memo.put(view.copy(), syms)
      syms
    }
  }

  private def foreachWord(text: UTF8String)(f: Array[UTF8String] => Unit): Unit = {
    val n = text.numBytes
    var i = 0
    while (i < n) {
      if (text.getByte(i) == ' ') i += 1
      else {
        var j = i + 1
        while (j < n && text.getByte(j) != ' ') j += 1
        f(word(text, i, j))
        i = j
      }
    }
  }

  /** Σ post-merge symbols over the document's words. */
  def tokenCount(text: UTF8String): Long = {
    var total = 0L
    foreachWord(text)(syms => total += syms.length)
    total
  }

  /** The document's post-merge symbols, word by word in order. */
  def symbols(text: UTF8String): ArrayData = {
    val out = new scala.collection.mutable.ArrayBuffer[Any](16)
    foreachWord(text)(syms => out ++= syms)
    new GenericArrayData(out.toArray)
  }
}

object BpeKernel {
  val MemoWords: Int = 1 << 14
}

/** The two native faces of [[BpeKernel]], replacing the
  * `transform(filter(split(text)), w -> … replace(…) …)` merge chain,
  * whose higher-order functions Spark only interprets (CodegenFallback).
  * The generated code holds one kernel per partition and calls it
  * inline; interpreted evaluation keeps one per expression instance.
  * Null text gives null. */
abstract class BpeExpression extends UnaryExpression {
  def merges: BpeMerges
  protected def method: String
  protected def run(kernel: BpeKernel, text: UTF8String): Any

  @transient private lazy val kernel = new BpeKernel(merges)

  override protected def nullSafeEval(input: Any): Any =
    run(kernel, input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = classOf[BpeKernel].getName
    val ref = ctx.addReferenceObj("bpeMerges", merges, classOf[BpeMerges].getName)
    val k = ctx.addMutableState(cls, "bpeKernel", v => s"$v = new $cls($ref);")
    defineCodeGen(ctx, ev, c => s"$k.$method($c)")
  }
}

/** `n_bpe_tokens`: a document's post-merge token count. */
case class BpeTokenCount(child: Expression, merges: BpeMerges) extends BpeExpression {
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def prettyName: String = "graft_bpe_tokens"
  override protected def method: String = "tokenCount"
  override protected def run(kernel: BpeKernel, text: UTF8String): Any =
    kernel.tokenCount(text)
  override protected def withNewChildInternal(newChild: Expression): BpeTokenCount =
    copy(child = newChild)
}

/** A document's post-merge symbols, flattened in (word, symbol) order. */
case class BpeSymbols(child: Expression, merges: BpeMerges) extends BpeExpression {
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_bpe_symbols"
  override protected def method: String = "symbols"
  override protected def run(kernel: BpeKernel, text: UTF8String): Any =
    kernel.symbols(text)
  override protected def withNewChildInternal(newChild: Expression): BpeSymbols =
    copy(child = newChild)
}
