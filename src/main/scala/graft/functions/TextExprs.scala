package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native text expressions for the dedup hot path. Each has an HOF /
  * relational twin that defines the semantics (and that the DuckDB
  * oracle mirrors); specs assert exact equality.
  *
  * Codegen (r8, the AnnExprs pattern): every expression implements
  * `doGenCode` as ONE static call (`graft.functions.TextExprs.<helper>`
  * — an `object`'s methods get Java static forwarders), so text scans
  * stay inside whole-stage codegen instead of crossing the
  * interpreted-eval boundary per row. eval() and the generated code
  * share the same static helpers — one implementation, two entry
  * points — so the parity specs gate both paths.
  */
object TextExprs {

  private def tokOrEmpty(toks: ArrayData, i: Int): UTF8String = {
    val t = toks.getUTF8String(i)
    if (t eq null) UTF8String.EMPTY_UTF8 else t
  }

  private val sp = UTF8String.fromString(" ")

  // ---- static entry points shared by eval() and generated code ----

  /** [[ShinglesExpr]] per-row work. */
  def shinglesArr(toks: ArrayData, k: Int): ArrayData = {
    val n = toks.numElements()
    val out = new java.util.LinkedHashSet[UTF8String]()
    var i = 0
    while (i + k <= n) {
      var s = toks.getUTF8String(i)
      var j = 1
      while (j < k) {
        s = UTF8String.concat(s, sp, toks.getUTF8String(i + j))
        j += 1
      }
      out.add(s)
      i += 1
    }
    new GenericArrayData(out.toArray.asInstanceOf[Array[Any]])
  }

  private val simhashDigest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Per-thread memo of token → 32-bit md5 vote word. Natural text is
    * Zipf-distributed — the same tokens ("the", "of", …) hash over and
    * over, and md5 dominated the simhash scan (r8: dedup_simhash was a
    * 10× member of the sf3 tail). md5 is pure, so caching is
    * semantics-free; keys are defensive copies (the incoming
    * UTF8String may point into a reused row buffer), and the map is
    * cleared at a size cap so a pathological vocabulary cannot grow it
    * unboundedly.
    */
  private val simhashMemo = new ThreadLocal[java.util.HashMap[UTF8String, java.lang.Long]] {
    override def initialValue() = new java.util.HashMap[UTF8String, java.lang.Long]()
  }
  private val SimhashMemoCap = 1 << 16

  /** [[SimHashExpr]] per-row work — 64-bit (r8; was 32). */
  def simhashLong(toks: ArrayData): Long = {
    val n = toks.numElements()
    val votes = new Array[Int](64)
    val md = simhashDigest.get()
    val memo = simhashMemo.get()
    var i = 0
    while (i < n) {
      val t = toks.getUTF8String(i)
      var hBox = memo.get(t)
      if (hBox == null) {
        md.reset()
        val d = md.digest(t.getBytes)
        var h = 0L
        var by = 0
        while (by < 8) { h = (h << 8) | (d(by) & 0xffL); by += 1 }
        if (memo.size() >= SimhashMemoCap) memo.clear()
        hBox = java.lang.Long.valueOf(h)
        memo.put(t.copy(), hBox)
      }
      val h = hBox.longValue()
      var b = 0
      while (b < 64) {
        votes(b) += ((((h >>> (63 - b)) & 1L) * 2 - 1)).toInt
        b += 1
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) sig |= (1L << b)
      b += 1
    }
    sig
  }

  /** [[DupStatsExpr]] per-row work. */
  def dupStatsRow(arr: ArrayData): InternalRow = {
    val n = arr.numElements()
    val xs = new Array[UTF8String](n)
    var i = 0
    while (i < n) { xs(i) = arr.getUTF8String(i); i += 1 }
    // any total order groups equal elements — binary UTF8 order here,
    // with null elements grouped first (current call sites never
    // produce element nulls, but a future caller gets defined
    // behavior — all nulls mutually equal, mass 0 — instead of an NPE
    // from compareTo/numChars)
    java.util.Arrays.sort(xs, (a: UTF8String, b: UTF8String) =>
      if (a eq null) { if (b eq null) 0 else -1 }
      else if (b eq null) 1
      else a.compareTo(b))
    var dupCnt = 0L; var dupMass = 0L; var totMass = 0L
    var run = 0L; var runMass = 0L
    i = 0
    while (i < n) {
      val len = if (xs(i) eq null) 0L else xs(i).numChars().toLong
      totMass += len
      if (i > 0 && xs(i) == xs(i - 1)) { run += 1; runMass += len }
      else {
        if (run >= 2) { dupCnt += run; dupMass += runMass }
        run = 1; runMass = len
      }
      i += 1
    }
    if (run >= 2) { dupCnt += run; dupMass += runMass }
    InternalRow(dupCnt, n.toLong, dupMass, totMass)
  }

  /** [[DupGramStatsExpr]] per-row work. `toks` may be null (→ zeros,
    * like the unfused chain's size()-guard).
    */
  def dupGramStatsRow(toks: ArrayData, k: Int): InternalRow = {
    if (toks == null) return InternalRow(0L, 0L, 0L, 0L)
    val n = toks.numElements()
    // gram string -> (count, numChars); one pass, no gram array
    val counts = new java.util.HashMap[UTF8String, Array[Long]]()
    var i = 0
    while (i + k <= n) {
      var g = tokOrEmpty(toks, i)
      var j = 1
      while (j < k) { g = UTF8String.concat(g, sp, tokOrEmpty(toks, i + j)); j += 1 }
      val e = counts.get(g)
      if (e == null) counts.put(g, Array(1L, g.numChars().toLong))
      else e(0) += 1
      i += 1
    }
    var dupCnt = 0L; var totCnt = 0L; var dupMass = 0L; var totMass = 0L
    val it = counts.values().iterator()
    while (it.hasNext) {
      val e = it.next()
      val c = e(0); val m = c * e(1)
      totCnt += c; totMass += m
      if (c >= 2) { dupCnt += c; dupMass += m }
    }
    InternalRow(dupCnt, totCnt, dupMass, totMass)
  }

  /** [[GopherRawExpr]] per-row work. */
  def gopherRawRow(toks: ArrayData): InternalRow = {
    val n = toks.numElements()
    val uniq = new java.util.HashSet[UTF8String]()
    val big = new java.util.HashMap[UTF8String, Long]()
    val tri = new java.util.HashSet[UTF8String]()
    var mass = 0L
    var i = 0
    while (i < n) {
      val t = tokOrEmpty(toks, i)
      mass += t.numChars().toLong
      uniq.add(t)
      if (i + 1 < n) {
        val b = UTF8String.concat(t, sp, tokOrEmpty(toks, i + 1))
        big.merge(b, 1L, (a, x) => a + x)
        if (i + 2 < n) tri.add(UTF8String.concat(b, sp, tokOrEmpty(toks, i + 2)))
      }
      i += 1
    }
    var top2 = 0L
    val it = big.values().iterator()
    while (it.hasNext) { val v = it.next(); if (v > top2) top2 = v }
    val nG2 = if (n >= 2) (n - 1).toLong else 0L
    val nG3 = if (n >= 3) (n - 2).toLong else 0L
    InternalRow(n.toLong, uniq.size.toLong, top2, nG2, nG3 - tri.size, nG3, mass)
  }

  /** [[EntropyRawExpr]] per-row work. */
  def entropyRawRow(toks: ArrayData): InternalRow = {
    val n = toks.numElements()
    val counts = new java.util.HashMap[UTF8String, Long]()
    var i = 0
    while (i < n) {
      val t = toks.getUTF8String(i)
      counts.merge(if (t eq null) UTF8String.EMPTY_UTF8 else t, 1L, (a, x) => a + x)
      i += 1
    }
    var ent = 0L
    val it = counts.values().iterator()
    while (it.hasNext) {
      // exactly cents(-p * log(p), 1e6) on the same IEEE doubles
      val p = it.next().toDouble / (1.0 * n)
      ent += math.floor((-p) * math.log(p) * 1e6 + 0.5).toLong
    }
    InternalRow(counts.size.toLong, ent)
  }

  /** [[GramCountsExpr]] per-row work. */
  def gramCountsArr(toks: ArrayData, k: Int): ArrayData = {
    val n = toks.numElements()
    val counts = new java.util.LinkedHashMap[UTF8String, Long]()
    var i = 0
    while (i + k <= n) {
      var g = tokOrEmpty(toks, i)
      var j = 1
      while (j < k) { g = UTF8String.concat(g, sp, tokOrEmpty(toks, i + j)); j += 1 }
      counts.merge(g, 1L, (a, x) => a + x)
      i += 1
    }
    val out = new Array[Any](counts.size)
    val it = counts.entrySet().iterator()
    i = 0
    while (it.hasNext) {
      val e = it.next()
      out(i) = InternalRow(e.getKey, e.getValue)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Distinct k-word shingles of a token array in one pass
    * (first-occurrence order — the same order
    * `array_distinct(transform(sequence...))` produces).
    */
  case class ShinglesExpr(child: Expression, k: Int) extends UnaryExpression {
    override def dataType: DataType = ArrayType(StringType, containsNull = false)

    override def nullSafeEval(input: Any): Any =
      shinglesArr(input.asInstanceOf[ArrayData], k)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.functions.TextExprs.shinglesArr($c, $k);")

    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** 64-bit SimHash of a token multiset in one pass (r8; the prior
    * 32-bit signature saturated — at 150k synthetic docs the banded
    * candidate join produced 78M candidates and 28M "pairs" at
    * hamming ≤ 8/32, quadratic in corpus size; production simhash is
    * 64-bit for exactly this reason, Manku et al. 2007). Bit b of the
    * signature is the sign of Σ_tokens (±1), where the vote is bit
    * (63-b) of the first 8 md5 bytes (big-endian) — exactly the
    * md5-nibble formulation of the relational twin
    * (Dedup.simhashSignaturesRelational / the DuckDB oracle). Token
    * digests are memoized per thread ([[simhashMemo]]): Zipf reuse
    * makes the md5 amortize across real corpora.
    */
  case class SimHashExpr(child: Expression) extends UnaryExpression {
    override def dataType: DataType = LongType

    override def nullSafeEval(input: Any): Any =
      java.lang.Long.valueOf(simhashLong(input.asInstanceOf[ArrayData]))

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.functions.TextExprs.simhashLong($c);")

    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** Run-length duplicate statistics of a string array in ONE pass:
    * struct(dup_cnt, tot_cnt, dup_mass, tot_mass), where an element
    * counts as duplicated iff its multiplicity ≥ 2 and mass weights by
    * character length. Semantics twin: the array_sort + `aggregate`
    * HOF folds (graft.TextHof.dupCountFracHof/dupCharFracHof, which the
    * DuckDB oracle mirrors); this native replaces TWO sorted HOF folds
    * per row (count-frac + char-frac each re-sorted the array) with
    * one sort + one scan in plain JVM code — the text-quality scan is
    * the hot path of a 100 TB curation pass, and `aggregate` lambdas
    * evaluate interpreted per element.
    */
  case class DupStatsExpr(child: Expression) extends UnaryExpression {
    override def dataType: DataType = StructType(Seq(
      StructField("dup_cnt", LongType, nullable = false),
      StructField("tot_cnt", LongType, nullable = false),
      StructField("dup_mass", LongType, nullable = false),
      StructField("tot_mass", LongType, nullable = false)))

    override def nullSafeEval(input: Any): Any =
      dupStatsRow(input.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.functions.TextExprs.dupStatsRow($c);")

    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** [[DupStatsExpr]] fused with k-gram construction: the duplicate
    * statistics of `gramsAll(tokens, k)` computed in ONE native pass —
    * hash-counting (gram string → count) instead of materializing the
    * gram array and sorting it. The r8 real-document A/B showed the
    * repetition hot path was never the fold: building ~3k gram strings
    * per document through an interpreted `transform`+`concat_ws`
    * lambda cost ~95 s on the 10k-doc archive corpus for native and
    * HOF folds alike — the gram CONSTRUCTION is the scan cost at
    * 100 TB. Gram strings are still built (space-joined, exactly
    * concat_ws(" ") for non-null tokens — a null token is treated as
    * the empty token, GramCountsExpr precedent), so counts and char
    * masses are identical to the unfused chain; the parity spec pins
    * the struct bitwise. A NULL token array yields all-zero stats —
    * same as the unfused chain, whose size()-guard resolves NULL to an
    * empty gram array.
    */
  case class DupGramStatsExpr(child: Expression, k: Int) extends UnaryExpression {
    require(k >= 1)
    override def dataType: DataType = StructType(Seq(
      StructField("dup_cnt", LongType, nullable = false),
      StructField("tot_cnt", LongType, nullable = false),
      StructField("dup_mass", LongType, nullable = false),
      StructField("tot_mass", LongType, nullable = false)))
    override def nullable: Boolean = false

    override def eval(input: InternalRow): Any = {
      val v = child.eval(input)
      dupGramStatsRow(if (v == null) null else v.asInstanceOf[ArrayData], k)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val c = child.genCode(ctx)
      val arg = s"(${c.isNull} ? null : (org.apache.spark.sql.catalyst.util.ArrayData) ${c.value})"
      ev.copy(
        code = c.code + code"""
          |org.apache.spark.sql.catalyst.InternalRow ${ev.value} =
          |  graft.functions.TextExprs.dupGramStatsRow($arg, $k);""".stripMargin,
        isNull = FalseLiteral)
    }

    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** Raw Gopher repetition statistics of a token array in ONE pass:
    * struct(n_toks, n_uniq, top2_cnt, n_g2, dup3_cnt, n_g3, tok_mass),
    * all longs. Replaces five interpreted HOF traversals per row
    * (gramsAll×2, array_sort + aggregate fold for the top-bigram run,
    * array_distinct×2, the token-length fold) with one hash-counting
    * scan — the quality-decision scan is the hot path of a 100 TB
    * curation pass. The double arithmetic (r6 fractions, keep
    * thresholds) deliberately stays OUTSIDE in column expressions, so
    * the consumer's values are bit-identical to the HOF twin
    * (graft.TextHof.gopherStatsHof, which the DuckDB oracle mirrors).
    */
  case class GopherRawExpr(child: Expression) extends UnaryExpression {
    override def dataType: DataType = StructType(Seq(
      StructField("n_toks", LongType, nullable = false),
      StructField("n_uniq", LongType, nullable = false),
      StructField("top2_cnt", LongType, nullable = false),
      StructField("n_g2", LongType, nullable = false),
      StructField("dup3_cnt", LongType, nullable = false),
      StructField("n_g3", LongType, nullable = false),
      StructField("tok_mass", LongType, nullable = false)))

    override def nullSafeEval(input: Any): Any =
      gopherRawRow(input.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.functions.TextExprs.gopherRawRow($c);")

    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** Raw token-entropy statistics in ONE pass:
    * struct(n_uniq, ent_e6), where ent_e6 is Σ over distinct tokens of
    * floor((-p·ln p)·1e6 + 0.5) with p = count/n — term-for-term the
    * integerized fold of the HOF twin (graft.TextHof.entropyScoreHof /
    * the DuckDB oracle), so the sum is identical regardless of
    * iteration order. Replaces an array_sort + interpreted run-length
    * `aggregate` fold per row with one hash count.
    */
  case class EntropyRawExpr(child: Expression) extends UnaryExpression {
    override def dataType: DataType = StructType(Seq(
      StructField("n_uniq", LongType, nullable = false),
      StructField("ent_e6", LongType, nullable = false)))

    override def nullSafeEval(input: Any): Any =
      entropyRawRow(input.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.functions.TextExprs.entropyRawRow($c);")

    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** Per-row k-gram COUNTS in one pass: array<struct<g,c>> with one
    * entry per distinct k-gram (first-occurrence order) and its
    * multiplicity. Exploding this instead of the raw gram stream gives
    * downstream corpus-level counting the same totals (Σc ≡ one row
    * per occurrence) while (a) shrinking the exploded volume to
    * per-doc DISTINCT grams and (b) replacing the interpreted
    * `transform`+`concat_ws` gram construction with native JVM code —
    * the two dominant costs of the bigram-LM / PMI family. Semantics
    * twin: `graft.TextHof.gramCountsHof` (array_distinct + per-gram filter count);
    * GramCountsParity in PropertyParitySpec asserts exact equality.
    */
  case class GramCountsExpr(child: Expression, k: Int) extends UnaryExpression {
    override def dataType: DataType = ArrayType(StructType(Seq(
      StructField("g", StringType, nullable = false),
      StructField("c", LongType, nullable = false))), containsNull = false)

    override def nullSafeEval(input: Any): Any =
      gramCountsArr(input.asInstanceOf[ArrayData], k)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.functions.TextExprs.gramCountsArr($c, $k);")

    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  def shingles(tokens: Column, k: Int = 3): Column =
    ColumnBridge.column(ShinglesExpr(ColumnBridge.expression(tokens), k))

  def simhash(tokens: Column): Column =
    ColumnBridge.column(SimHashExpr(ColumnBridge.expression(tokens)))

  def dupStats(xs: Column): Column =
    ColumnBridge.column(DupStatsExpr(ColumnBridge.expression(xs)))

  def dupGramStats(tokens: Column, k: Int): Column =
    ColumnBridge.column(DupGramStatsExpr(ColumnBridge.expression(tokens), k))

  def gramCounts(tokens: Column, k: Int): Column =
    ColumnBridge.column(GramCountsExpr(ColumnBridge.expression(tokens), k))

  def gopherRaw(tokens: Column): Column =
    ColumnBridge.column(GopherRawExpr(ColumnBridge.expression(tokens)))

  def entropyRaw(tokens: Column): Column =
    ColumnBridge.column(EntropyRawExpr(ColumnBridge.expression(tokens)))
}
