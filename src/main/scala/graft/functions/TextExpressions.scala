package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for Unicode NFC normalization — the
  * canonicalization step that must run BEFORE any hash-keyed text
  * operator (exact dedup q17, paragraph dedup q152, fingerprints,
  * incremental dedup q153): `café` precomposed (U+00E9) and `cafe` +
  * combining acute (U+0301) are byte-different but canonically equal,
  * so unnormalized corpora silently under-dedup.
  *
  * Spark has no built-in NFC function (DuckDB ships `nfc_normalize`,
  * which the oracle uses — both sides implement the same Unicode
  * normalization standard, so outputs are byte-identical). A Scala UDF
  * would break whole-stage codegen and pay SerDe per row; this
  * expression stays inside the codegen span and fast-paths the
  * already-normalized case (ASCII and most real text) with
  * `Normalizer.isNormalized`, returning the INPUT UTF8String with zero
  * allocation — the scan-speed path for the overwhelmingly common
  * case.
  *
  * Null semantics: null in → null out (nullSafeEval / nullSafeCodeGen).
  */
case class NfcNormalize(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case dt => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires STRING input, got ${dt.simpleString}")
    }

  override def dataType: DataType = StringType

  override def prettyName: String = "nfc_normalize"

  override def nullSafeEval(s: Any): Any = {
    val str = s.asInstanceOf[UTF8String].toString
    if (java.text.Normalizer.isNormalized(
        str, java.text.Normalizer.Form.NFC)) s
    else UTF8String.fromString(
      java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
  }

  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val tmp = ctx.freshName("nfcStr")
      s"""
         |java.lang.String $tmp = $c.toString();
         |if (java.text.Normalizer.isNormalized(
         |    $tmp, java.text.Normalizer.Form.NFC)) {
         |  ${ev.value} = $c;
         |} else {
         |  ${ev.value} = org.apache.spark.unsafe.types.UTF8String
         |    .fromString(java.text.Normalizer.normalize(
         |      $tmp, java.text.Normalizer.Form.NFC));
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(
      newChild: Expression): NfcNormalize = copy(child = newChild)
}

/** Loop body of [[GramRepetitionStats]] (plain object — static
  * forwarder guaranteed for Janino). One O(n) pass per document:
  * exact per-doc gram counts in local hash maps over the TRUE gram
  * strings (no fingerprint-collision caveat — strings never leave the
  * row, so exactness is free here). Gram strings are space-joined;
  * tokens come from split(text, " ") so they never contain the
  * separator and the join is injective. tri_tot ≡ n−2 (every trigram
  * occurrence counts), so only the distinct-set needs a map. */
object GramRepImpl {
  def compute(arr: ArrayData): InternalRow = {
    val n = arr.numElements()
    val toks = new Array[String](n)
    var i = 0
    while (i < n) {
      toks(i) = if (arr.isNullAt(i)) "" else arr.getUTF8String(i).toString
      i += 1
    }
    val uni = new java.util.HashMap[String, Integer](n * 2)
    var topTok = 0
    i = 0
    while (i < n) {
      val c: Int = uni.merge(toks(i), 1, (a, b) => a + b)
      if (c > topTok) topTok = c
      i += 1
    }
    val bi = new java.util.HashMap[String, Integer](n * 2)
    var topBi = 0
    i = 0
    while (i < n - 1) {
      val c: Int = bi.merge(toks(i) + " " + toks(i + 1), 1, (a, b) => a + b)
      if (c > topBi) topBi = c
      i += 1
    }
    val tri = new java.util.HashSet[String](n * 2)
    i = 0
    while (i < n - 2) {
      tri.add(toks(i) + " " + toks(i + 1) + " " + toks(i + 2))
      i += 1
    }
    new GenericInternalRow(Array[Any](
      topTok.toLong, topBi.toLong, tri.size.toLong, (n - 2).toLong))
  }
}

/** Per-document Gopher repetition statistics
  * (struct<top_tok,top_bi,tri_dist,tri_tot>, all LONG) for
  * [[graft.operators.TextAnalysis.repetitionStats]] (q94).
  *
  * The 100 TB design point: these statistics are PER-DOCUMENT, so no
  * cross-row aggregation exists in the problem — yet the previous two
  * formulations both paid a corpus-wide shuffle of ~3 rows per token
  * into a high-cardinality (doc, kind, gram) hash aggregate. Measured
  * at sf1: the interpreted transform-lambda form 13.9 s, the codegen
  * explode+inline window-stream form 8.8 s (generation fixed, the
  * gram shuffle remained the floor). This expression computes all
  * three counts in one JIT'd O(n) pass inside the row — the query
  * becomes scan → project, embarrassingly parallel, ZERO exchanges
  * except the final report sort.
  *
  * Memory: per-row state is O(distinct grams of ONE document) — the
  * same order as the row's own token array, and strictly smaller than
  * what any per-doc grouping (collect_list, decode) would hold;
  * upstream chunking bounds document length at corpus scale. Not the
  * per-row NESTED-LOOP HOF form the original scaladoc warned against
  * (that was O(n²) per doc; this is O(n) with local maps). */
case class GramRepetitionStats(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case dt => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires ARRAY<STRING> input, got ${dt.simpleString}")
    }

  override def dataType: DataType = StructType(Seq(
    StructField("top_tok", LongType, nullable = false),
    StructField("top_bi", LongType, nullable = false),
    StructField("tri_dist", LongType, nullable = false),
    StructField("tri_tot", LongType, nullable = false)))

  override def prettyName: String = "gram_repetition_stats"

  override def nullSafeEval(arr: Any): Any =
    GramRepImpl.compute(arr.asInstanceOf[ArrayData])

  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.GramRepImpl.compute($c);")

  override protected def withNewChildInternal(
      newChild: Expression): GramRepetitionStats = copy(child = newChild)
}

/** Loop body of [[GramLoopStats]] (plain object — static forwarder
  * guaranteed for Janino). One O(len·n) pass per document over the
  * TRUE space-joined n-gram strings: window count, max repetition,
  * and the UTF-8-binary-smallest gram among the repetition argmax
  * ties — exactly the old (doc, gram) hash-aggregate + argmax-join
  * chain, computed in-row. */
object GramLoopImpl {
  /** a < b in UTF-8 byte order — Spark's UTF8String/string ordering
    * (= code-point order), which the old `min(gname)` aggregate used;
    * java.lang.String.compareTo (UTF-16 code-unit order) disagrees
    * above the BMP. */
  private def utf8Lt(a: String, b: String): Boolean = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    val lim = math.min(x.length, y.length)
    while (i < lim) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c < 0
      i += 1
    }
    x.length < y.length
  }

  def compute(arr: ArrayData, n: Int): InternalRow = {
    val len = arr.numElements()
    val toks = new Array[String](len)
    var i = 0
    while (i < len) {
      toks(i) = if (arr.isNullAt(i)) "" else arr.getUTF8String(i).toString
      i += 1
    }
    val nPos = len - n + 1
    val m = new java.util.HashMap[String, Integer](nPos * 2)
    var maxRep = 0
    i = 0
    while (i < nPos) {
      val sb = new java.lang.StringBuilder(toks(i))
      var j = 1
      while (j < n) { sb.append(' ').append(toks(i + j)); j += 1 }
      val c: Int = m.merge(sb.toString, 1, (a, b) => a + b)
      if (c > maxRep) maxRep = c
      i += 1
    }
    var best: String = null
    val it = m.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getValue == maxRep && (best == null || utf8Lt(e.getKey, best)))
        best = e.getKey
    }
    new GenericInternalRow(Array[Any](
      nPos.toLong, maxRep.toLong, UTF8String.fromString(best)))
  }
}

/** Per-document n-gram LOOP statistics
  * (struct<n_positions,max_rep:LONG, loop_gram:STRING>) for
  * [[graft.operators.TextAnalysis.gramLoopScore]] (q211).
  *
  * The q94 lesson applied to the loop-score family: the statistics
  * are PER-DOCUMENT, so the previous corpus-wide (doc, gram) hash
  * aggregate (3 rows per token into two exchanges, then an
  * argmax-join back through the planted text to recover the gram
  * string) was never necessary — one JIT'd O(len·n) pass inside the
  * row computes all three values and the query becomes scan →
  * project, zero exchanges except the report sort. Grams are the
  * TRUE strings (no fingerprint-collision caveat — they never leave
  * the row); per-row state is O(distinct grams of ONE document),
  * bounded by upstream chunking at corpus scale. */
case class GramLoopStats(child: Expression, n: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        if (n >= 1) TypeCheckResult.TypeCheckSuccess
        else TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires n >= 1, got $n")
      case dt => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires ARRAY<STRING> input, got ${dt.simpleString}")
    }

  override def dataType: DataType = StructType(Seq(
    StructField("n_positions", LongType, nullable = false),
    StructField("max_rep", LongType, nullable = false),
    StructField("loop_gram", StringType, nullable = true)))

  override def prettyName: String = "gram_loop_stats"

  override def nullSafeEval(arr: Any): Any =
    GramLoopImpl.compute(arr.asInstanceOf[ArrayData], n)

  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.GramLoopImpl.compute($c, $n);")

  override protected def withNewChildInternal(
      newChild: Expression): GramLoopStats = copy(child = newChild)
}

/** Loop body of [[MinhashSignature]] (plain object — static forwarder
  * guaranteed for Janino). One O(len·(md5 + k)) pass per document:
  * for every n-token window, md5 over the UTF-8 bytes of the
  * space-joined shingle (identical bytes to Spark's
  * `md5(concat_ws(" ", slice(toks, i, n)))` — concat_ws skips nulls,
  * mirrored here), split the digest into the two big-endian 32-bit
  * halves h1/h2 (= `conv(substring(hex, 1|9, 8), 16, 10)`), and fold
  * the k Kirsch–Mitzenmacher permutations (h1 + i·h2) mod 2³² into
  * running minima. The mod-2³² is a power-of-two mask, and the
  * per-permutation value accumulates by adding h2 — no multiply. */
object MinhashSigImpl {
  private val mdTl = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }
  private val SP = Array[Byte](' '.toByte)

  def compute(arr: ArrayData, n: Int, k: Int): ArrayData = {
    val md = mdTl.get()
    val len = arr.numElements()
    val toks = new Array[Array[Byte]](len)
    var i = 0
    while (i < len) {
      toks(i) =
        if (arr.isNullAt(i)) null else arr.getUTF8String(i).getBytes
      i += 1
    }
    val mins = new Array[Long](k)
    java.util.Arrays.fill(mins, Long.MaxValue)
    val nPos = len - n + 1
    i = 0
    while (i < nPos) {
      md.reset()
      var j = 0
      var first = true
      while (j < n) {
        val t = toks(i + j)
        if (t != null) {
          if (!first) md.update(SP)
          md.update(t)
          first = false
        }
        j += 1
      }
      val d = md.digest()
      val h1 = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
      val h2 = ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
        ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)
      var p = 0
      var v = h1 // h1 + p·h2, accumulated; max < 2^36 — no overflow
      while (p < k) {
        val m = v & 0xffffffffL // pmod(·, 2^32) for non-negative v
        if (m < mins(p)) mins(p) = m
        v += h2
        p += 1
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(mins)
  }
}

/** Per-document MinHash signature (ARRAY<LONG> of length k) for
  * [[graft.operators.Dedup.minhashSignatures]] — the feeder of the
  * whole near-dup family (q20/q42/q85/q112/q199/q222/q224, the
  * Minhash ledger behind q170/q177/q183).
  *
  * The per-doc MIN aggregate is per-document state, so the previous
  * explode(window) → md5-hex → conv-parse → 16-min hash aggregate
  * (one corpus-wide exchange of per-doc partials, plus a hex
  * format/parse round trip per shingle) collapses into one JIT'd
  * in-row pass over the document's own windows: the signature frame
  * becomes scan → project. Values are bit-identical (same md5 bytes,
  * same big-endian halves, same mod-2³² arithmetic — DedupSpec and
  * the q20/q42 oracles re-gate it). */
case class MinhashSignature(child: Expression, n: Int, k: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        if (n >= 1 && k >= 1) TypeCheckResult.TypeCheckSuccess
        else TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires n >= 1 and k >= 1, got n=$n k=$k")
      case dt => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires ARRAY<STRING> input, got ${dt.simpleString}")
    }

  override def dataType: DataType = ArrayType(LongType, false)

  override def prettyName: String = "minhash_signature"

  override def nullSafeEval(arr: Any): Any =
    MinhashSigImpl.compute(arr.asInstanceOf[ArrayData], n, k)

  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.MinhashSigImpl.compute($c, $n, $k);")

  override protected def withNewChildInternal(
      newChild: Expression): MinhashSignature = copy(child = newChild)
}

object TextFunctions {
  /** Column API for [[NfcNormalize]]. */
  def nfc_normalize(c: Column): Column =
    GraftBridge.column(NfcNormalize(GraftBridge.expression(c)))

  /** Column API for [[MinhashSignature]]. */
  def minhash_signature(c: Column, n: Int, k: Int): Column =
    GraftBridge.column(MinhashSignature(GraftBridge.expression(c), n, k))

  /** Column API for [[GramLoopStats]]. */
  def gram_loop_stats(c: Column, n: Int): Column =
    GraftBridge.column(GramLoopStats(GraftBridge.expression(c), n))

  /** Column API for [[GramRepetitionStats]]. */
  def gram_repetition_stats(c: Column): Column =
    GraftBridge.column(GramRepetitionStats(GraftBridge.expression(c)))
}
