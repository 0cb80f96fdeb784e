/** Custom Catalyst expressions for graft's hot scalar paths.
  *
  * Lives under org.apache.spark.sql because the pieces an expression
  * library needs — ExpressionUtils (Column <-> Expression), AbstractDataType
  * in override positions, FunctionRegistry — are private[sql] in Spark 4.
  * This is the standard packaging for third-party expression libraries; no
  * Spark internals are modified, only accessed.
  */
package org.apache.spark.sql.graftexpr

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

object GraftExpr {
  /** Compiled \s+ — String.split("\\s+") re-compiles the Pattern on every
    * call (the one-char fast path doesn't apply), a real per-row cost in
    * the WordShingles/RepetitionStats hot loops. Semantics identical:
    * String.split delegates to Pattern.split. */
  private[graftexpr] val Ws = java.util.regex.Pattern.compile("\\s+")

  /** 64-bit SimHash of a string column (Charikar 2002). */
  def simhash64(c: Column): Column =
    ExpressionUtils.column(SimHash64(ExpressionUtils.expression(c)))

  /** k-permutation MinHash signature of an array&lt;string&gt; column. */
  def minhash_sig(c: Column, k: Int): Column =
    ExpressionUtils.column(MinHashSig(ExpressionUtils.expression(c), k))

  /** Distinct word n-gram shingles of a string column. */
  def word_shingles(c: Column, n: Int): Column =
    ExpressionUtils.column(WordShingles(ExpressionUtils.expression(c), n))

  /** Indices of the `nprobe` nearest centroids (L2) of a double-array
    * column — the IVF coarse-quantizer assignment/probe step. */
  def centroid_probes(c: Column, centroids: Seq[Seq[Double]], nprobe: Int): Column =
    ExpressionUtils.column(
      CentroidProbes(ExpressionUtils.expression(c), centroids, nprobe))

  /** Sequential-order cosine similarity of two double-array columns. */
  def cosine_sim(a: Column, b: Column): Column =
    ExpressionUtils.column(
      CosineSim(ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  /** Repetition statistics of a string column:
    * [n_words, n_distinct_words, max_bigram_count, n_bigrams]. */
  def repetition_stats(c: Column): Column =
    ExpressionUtils.column(RepetitionStats(ExpressionUtils.expression(c)))

  /** One-pass language-ID statistics of a string column:
    * struct(lang, stop_ratio) over the given stopword/script tables. */
  def lang_stats(c: Column, stopLists: Seq[(String, Seq[String])],
      scriptLangs: Seq[(String, Char, Char)]): Column =
    ExpressionUtils.column(
      LangStats(ExpressionUtils.expression(c), stopLists, scriptLangs))

  /** PII scan of a string column (one expression, five sequential
    * category passes): [n_emails, n_phones, n_ipv4, n_ipv6, n_card,
    * redacted_chars]. */
  def pii_scan(c: Column): Column =
    ExpressionUtils.column(PiiScan(ExpressionUtils.expression(c)))

  /** The PII-redacted text under the same pass chain as [[pii_scan]]. */
  def pii_redact(c: Column): Column =
    ExpressionUtils.column(PiiRedact(ExpressionUtils.expression(c)))

  /** Per-window 128-bit hash keys of a token-array column:
    * array&lt;struct(pos, h1, h2)&gt; for every k-token sliding window. */
  def window_hashes(c: Column, k: Int): Column =
    ExpressionUtils.column(WindowHashes(ExpressionUtils.expression(c), k))

  /** Linear-merge span excision over a token array given the sorted
    * 1-based dup-window start positions: struct(n_removed, text). */
  def excise_tokens(tk: Column, ps: Column, k: Int): Column =
    ExpressionUtils.column(ExciseTokens(
      ExpressionUtils.expression(tk), ExpressionUtils.expression(ps), k))

  /** Sign-LSH bucket of a double-array column over fixed hyperplanes. */
  def sign_lsh_bucket(c: Column, planes: Seq[Seq[Double]]): Column =
    ExpressionUtils.column(SignLshBucket(ExpressionUtils.expression(c), planes))

  /** Exact Jaccard similarity of two array&lt;string&gt; columns (set
    * semantics), one hash-set pass. */
  def jaccard_sim(a: Column, b: Column): Column =
    ExpressionUtils.column(JaccardSim(
      ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  /** The k smallest distinct xxhash64 values over the `gram`-char rolling
    * grams of an (ASCII-normalized) string column, ascending. */
  def gram_min_k(c: Column, gram: Int, k: Int): Column =
    ExpressionUtils.column(GramMinK(ExpressionUtils.expression(c), gram, k))

  /** Register SQL-callable names on a session. */
  def register(spark: SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "simhash64", exprs => SimHash64(exprs.head), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "cosine_sim", exprs => CosineSim(exprs(0), exprs(1)), "scala_udf")
  }
}

/** 64-bit SimHash (Charikar, STOC 2002) of a string: whitespace-tokenized,
  * lowercased; per-token 64-bit xxHash (seed 42, same as Spark's xxhash64);
  * signature bit j = sign of the sum over tokens of (+-1 per token's bit j).
  * Near-duplicate texts land within a small Hamming distance.
  *
  * Single tight JVM loop per row — replaces a transform+aggregate+zip_with
  * HOF pipeline whose lambdas are interpreted per token per bit.
  */
case class SimHash64(child: Expression) extends UnaryExpression
    with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  override def nullSafeEval(input: Any): Any =
    SimHash64.of(input.asInstanceOf[UTF8String].toString)

  // real codegen (not CodegenFallback): the call stays inside the
  // surrounding WholeStageCodegen span instead of forcing an interpreted
  // projection around it
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.sql.graftexpr.SimHash64.of($c.toString())")

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

object SimHash64 {
  /** ASCII whitespace exactly matching Java regex \s ([ \t\n\x0B\f\r]) — the
    * HOF cross-check twin (Dedup.simhashHof) splits on \s+, so the native
    * loop must NOT use Character.isWhitespace (full Unicode: U+2028 etc.)
    * or the two diverge on text containing Unicode whitespace. */
  @inline private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  def of(text: String): Long = {
    val s = text.toLowerCase(java.util.Locale.ROOT)
    val sums = new Array[Int](64)
    val len = s.length
    var i = 0
    while (i < len) {
      while (i < len && isWs(s.charAt(i))) i += 1
      val start = i
      while (i < len && !isWs(s.charAt(i))) i += 1
      if (i > start) {
        val tok = UTF8String.fromString(s.substring(start, i))
        val h = XXH64.hashUnsafeBytes(tok.getBaseObject, tok.getBaseOffset, tok.numBytes(), 42L)
        var j = 0
        while (j < 64) {
          if (((h >>> j) & 1L) == 1L) sums(j) += 1 else sums(j) -= 1
          j += 1
        }
      }
    }
    var sig = 0L
    var j = 0
    while (j < 64) {
      if (sums(j) > 0) sig |= (1L << j)
      j += 1
    }
    sig
  }
}

/** k-permutation MinHash signature (Broder 1997) of an array&lt;string&gt;
  * shingle column: sig(i) = min over shingles of hash_i(shingle).
  *
  * hash_i replicates the HOF formulation `xxhash64(lit(i), shingle)`
  * bit-for-bit: Spark's XxHash64 folds multi-arg input left-to-right, so
  * hash_i(s) = XXH64.hashUnsafeBytes(s, seed = XXH64.hashInt(i, 42)).
  * The per-permutation seeds are precomputed once; each row is ONE tight
  * loop of k*|shingles| hash calls — replacing 32 interpreted
  * transform+xxhash64+array_min HOF pipelines per row (the round-1 d05
  * hot spot: 26% of the whole bench).
  */
case class MinHashSig(child: Expression, k: Int) extends UnaryExpression
    with ExpectsInputTypes {
  require(k > 0, s"k must be positive, got $k")

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(LongType)
  override def prettyName: String = "minhash_sig"

  // seed_i = xxhash64's running hash after folding the int literal i
  @transient private lazy val seeds: Array[Long] =
    Array.tabulate(k)(i => XXH64.hashInt(i, 42L))

  override def nullSafeEval(input: Any): Any =
    evalArr(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("minhashSig", this,
      "org.apache.spark.sql.graftexpr.MinHashSig")
    defineCodeGen(ctx, ev, c => s"$ref.evalArr($c)")
  }

  def evalArr(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    if (n == 0) { // match array_min-over-empty: k nulls
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(
        Array.fill[Any](k)(null))
    }
    val mins = Array.fill(k)(Long.MaxValue)
    var j = 0
    while (j < n) {
      val s = if (arr.isNullAt(j)) null else arr.getUTF8String(j)
      var i = 0
      while (i < k) {
        // a null element hashes to the running seed alone — exactly what
        // the HOF twin's xxhash64(lit(i), null) yields (null args skipped)
        val h =
          if (s == null) seeds(i)
          else XXH64.hashUnsafeBytes(
            s.getBaseObject, s.getBaseOffset, s.numBytes(), seeds(i))
        if (h < mins(i)) mins(i) = h
        i += 1
      }
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(mins)
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

/** Distinct word n-gram shingles of a string, replicating the HOF
  * formulation `array_distinct(transform(sequence(0, greatest(size(w)-n, 0)),
  * i => concat_ws(" ", slice(w, i+1, n))))` over
  * `w = split(trim(lower(text)), "\\s+")` EXACTLY:
  *  - lower/trim use UTF8String semantics (Unicode lowercase; trim strips
  *    0x20 only — NOT Java String.trim, which also strips control chars);
  *  - split uses Java regex \s+ with limit -1 (Spark's split);
  *  - when there are fewer than n words the single shingle is all words;
  *  - distinct preserves first-occurrence order.
  * One pass per row instead of five interpreted HOF evaluations — the
  * shingling was the cost left in d05 after MinHashSig went native. */
case class WordShingles(child: Expression, n: Int) extends UnaryExpression
    with ExpectsInputTypes {
  require(n > 0, s"n must be positive, got $n")

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType)
  override def prettyName: String = "word_shingles"

  override def nullSafeEval(input: Any): Any =
    evalStr(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("wordShingles", this,
      "org.apache.spark.sql.graftexpr.WordShingles")
    defineCodeGen(ctx, ev, c => s"$ref.evalStr($c)")
  }

  def evalStr(u: UTF8String): ArrayData = {
    val s = u.toLowerCase.trim.toString // UTF8String lower/trim semantics
    val words = GraftExpr.Ws.split(s, -1) // hoisted Pattern: no per-row compile
    val count = math.max(words.length - n, 0) + 1
    val seen = new java.util.LinkedHashSet[UTF8String](count * 2)
    var i = 0
    while (i < count) {
      val end = math.min(i + n, words.length)
      val sb = new java.lang.StringBuilder(32)
      var j = i
      while (j < end) {
        if (j > i) sb.append(' ')
        sb.append(words(j))
        j += 1
      }
      seen.add(UTF8String.fromString(sb.toString))
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      seen.toArray.asInstanceOf[Array[AnyRef]])
  }

  override protected def withNewChildInternal(newChild: Expression): WordShingles =
    copy(child = newChild)
}

/** Indices of the `nprobe` nearest centroids (squared-L2, sequential
  * accumulation) of a double-array vector — the IVF coarse quantizer's
  * assignment (nprobe=1) and query-probe (nprobe>1) step in one tight loop.
  * Ties break on the lower centroid index (deterministic). */
case class CentroidProbes(child: Expression, centroids: Seq[Seq[Double]], nprobe: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(centroids.nonEmpty && nprobe > 0 && nprobe <= centroids.length,
    s"need 1 <= nprobe (${nprobe}) <= nlist (${centroids.length})")

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = ArrayType(IntegerType)
  override def prettyName: String = "centroid_probes"

  @transient private lazy val cents: Array[Array[Double]] =
    centroids.map(_.toArray).toArray

  override def nullSafeEval(input: Any): Any =
    evalArr(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("centroidProbes", this,
      "org.apache.spark.sql.graftexpr.CentroidProbes")
    defineCodeGen(ctx, ev, c => s"$ref.evalArr($c)")
  }

  def evalArr(arr: ArrayData): ArrayData = {
    val v = arr.toDoubleArray()
    val nlist = cents.length
    // BOUNDED selection of the nprobe smallest (distance, index) pairs:
    // insertion into two nprobe-sized primitive arrays — no boxing, no
    // O(nlist log nlist) sort in the per-row assignment hot path (at
    // nlist=65536 a full boxed sort per row would dominate)
    // pre-fill with valid centroid indices (nprobe <= nlist): a vector
    // whose distances are all NaN (bad embedding) degrades to probing the
    // first nprobe lists deterministically instead of emitting sentinel
    // list ids that silently drop it from the index
    val bestD = Array.fill(nprobe)(Double.PositiveInfinity)
    val bestI = Array.tabulate(nprobe)(identity)
    var c = 0
    while (c < nlist) {
      val cent = cents(c)
      val n = math.min(v.length, cent.length)
      var s = 0.0
      var i = 0
      while (i < n) { val d = v(i) - cent(i); s += d * d; i += 1 }
      // ascending c: on equal distance the earlier index wins (same order
      // as sorting by (distance, index))
      if (s < bestD(nprobe - 1)) {
        var p = nprobe - 1
        while (p > 0 && s < bestD(p - 1)) {
          bestD(p) = bestD(p - 1); bestI(p) = bestI(p - 1); p -= 1
        }
        bestD(p) = s; bestI(p) = c
      }
      c += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      bestI.map(Int.box(_): AnyRef))
  }

  override protected def withNewChildInternal(newChild: Expression): CentroidProbes =
    copy(child = newChild)
}

/** Cosine similarity of two double arrays, accumulated in double in array
  * order — the exact summation order the DuckDB oracle and the HOF
  * formulation use, so results are bit-identical across engines. */
case class CosineSim(left: Expression, right: Expression) extends BinaryExpression
    with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_sim"

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"org.apache.spark.sql.graftexpr.CosineSim.of($a, $b)")

  override def nullSafeEval(a: Any, b: Any): Any =
    CosineSim.of(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineSim =
    copy(left = l, right = r)
}

/** Repetition statistics (the Gopher-filter inputs) of a string in ONE
  * pass: word count, distinct-word count, the maximum multiplicity of any
  * word bigram, and the bigram count — as [n_words, n_distinct,
  * max_bigram_count, n_bigrams]. Tokenization replicates the HOF/oracle
  * formulation `split(trim(lower(text)), "\\s+")` exactly (UTF8String
  * lower/trim semantics, Java \s+), like [[WordShingles]].
  *
  * Replaces a sort+fold HOF pipeline whose interpreted per-element struct
  * allocation made d11 the slowest headline query (8.7 s at sf0.1); the
  * tight HashMap loop is the same d05 lesson (MinHashSig) applied again. */
case class RepetitionStats(child: Expression) extends UnaryExpression
    with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType)
  override def prettyName: String = "repetition_stats"

  override def nullSafeEval(input: Any): Any =
    RepetitionStats.of(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.sql.graftexpr.RepetitionStats.of($c)")

  override protected def withNewChildInternal(newChild: Expression): RepetitionStats =
    copy(child = newChild)
}

object RepetitionStats {
  def of(u: UTF8String): ArrayData = {
    val s = u.toLowerCase.trim.toString // UTF8String lower/trim semantics
    val words = GraftExpr.Ws.split(s, -1) // hoisted Pattern: no per-row compile
    val nWords = words.length.toLong
    val distinct = new java.util.HashSet[String](words.length * 2)
    var i = 0
    while (i < words.length) { distinct.add(words(i)); i += 1 }
    var maxBigram = 0L
    val nBigrams = math.max(words.length - 1, 0).toLong
    if (words.length >= 2) {
      val counts = new java.util.HashMap[String, Integer](words.length * 2)
      i = 0
      while (i < words.length - 1) {
        val bg = words(i) + " " + words(i + 1)
        val prev = counts.get(bg)
        val c = if (prev == null) 1 else prev.intValue() + 1
        counts.put(bg, Integer.valueOf(c))
        if (c > maxBigram) maxBigram = c.toLong
        i += 1
      }
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      Array[Long](nWords, distinct.size.toLong, maxBigram, nBigrams))
  }
}

object CosineSim {
  def of(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0
    var nx = 0.0
    var ny = 0.0
    var i = 0
    while (i < n) {
      val xv = x.getDouble(i)
      val yv = y.getDouble(i)
      dot += xv * yv
      nx += xv * xv
      ny += yv * yv
      i += 1
    }
    dot / (math.sqrt(nx) * math.sqrt(ny))
  }
}

/** Language-ID statistics in ONE pass: struct(lang, stop_ratio) — the
  * argmax language over `stopLists` (distinct-token stoplist overlap) and
  * `scriptLangs` (script-char counts, for languages whitespace
  * tokenization carries no signal for), with the (score desc, lang asc)
  * tie-break, plus the language-aware stopword-occurrence ratio (script
  * languages: script-char density; no signal at all -> lang 'und' with
  * the English-list ratio).
  *
  * Semantics contract: replicates the declarative twins
  * (TextStats.langGuessHof / stopwordRatioHof — and therefore the
  * GENERATED DuckDB oracle SQL) exactly: tokens =
  * `split(trim(lower(text)), " +")` with UTF8String lower/trim
  * semantics; intersect counts DISTINCT tokens; occurrence counts all
  * tokens; char counts are codepoints. Replaces a 22-branch CaseWhen
  * over a 22-struct array_sort whose interpreted HOF scores made d17 a
  * 49-second query at sf0.1 (the d05/d11 lesson once more): here each
  * row pays ONE tokenize + ONE hash lookup per token (word -> language
  * bitmask over the ~300 pooled stopwords) + ONE char scan. */
case class LangStats(child: Expression,
    stopLists: Seq[(String, Seq[String])],
    scriptLangs: Seq[(String, Char, Char)])
    extends UnaryExpression with ExpectsInputTypes {
  require(stopLists.size <= 64, "language bitmask packs into one Long")

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = StructType(Seq(
    StructField("lang", StringType, nullable = false),
    StructField("stop_ratio", DoubleType, nullable = false)))
  override def prettyName: String = "lang_stats"

  /** word -> bitmask of stoplist indices containing it (a word like "de"
    * belongs to several languages). */
  @transient private lazy val wordMask: java.util.HashMap[String, java.lang.Long] = {
    val m = new java.util.HashMap[String, java.lang.Long]()
    stopLists.zipWithIndex.foreach { case ((_, words), i) =>
      words.foreach { w =>
        val prev = m.get(w)
        m.put(w, java.lang.Long.valueOf(
          (if (prev == null) 0L else prev.longValue()) | (1L << i)))
      }
    }
    m
  }
  @transient private lazy val stopLangs: Array[String] =
    stopLists.map(_._1).toArray
  @transient private lazy val enIdx: Int = stopLangs.indexOf("en")
  // parallel primitive arrays (not the Tuple3s — Tuple3 is unspecialized
  // and would box a Character per bound access in the per-char hot loop)
  @transient private lazy val scriptNames: Array[String] =
    scriptLangs.map(_._1).toArray
  @transient private lazy val scriptLo: Array[Char] =
    scriptLangs.map(_._2).toArray
  @transient private lazy val scriptHi: Array[Char] =
    scriptLangs.map(_._3).toArray
  // evaluation order for the argmax tie-break: all languages ascending
  @transient private lazy val ordered: Array[(String, Int, Boolean)] = {
    // (lang, index into its score array, isScript)
    val all = stopLangs.zipWithIndex.map { case (l, i) => (l, i, false) } ++
      scriptNames.zipWithIndex.map { case (l, i) => (l, i, true) }
    all.sortBy(_._1).toArray
  }

  override def nullSafeEval(input: Any): Any =
    evalRow(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("langStats", this,
      "org.apache.spark.sql.graftexpr.LangStats")
    defineCodeGen(ctx, ev, c => s"$ref.evalRow($c)")
  }

  def evalRow(u: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val s = u.toLowerCase.trim.toString // UTF8String lower/trim semantics
    val tokens = LangStats.SpacePlus.split(s, -1) // split(trim(lower), " +")
    val nToks = tokens.length
    // one pass: per-language occurrence counts + distinct-token overlap
    val occ = new Array[Int](stopLangs.length)
    val hit = new Array[Int](stopLangs.length) // distinct overlap
    val seen = new java.util.HashSet[String](nToks * 2)
    var i = 0
    while (i < nToks) {
      val t = tokens(i)
      val mask = wordMask.get(t)
      if (mask != null) {
        var m = mask.longValue()
        val fresh = seen.add(t)
        while (m != 0L) {
          val j = java.lang.Long.numberOfTrailingZeros(m)
          occ(j) += 1
          if (fresh) hit(j) += 1
          m &= m - 1
        }
      }
      i += 1
    }
    // one char scan over the RAW text: per-script counts + codepoints
    val raw = u.toString
    val scriptCount = new Array[Int](scriptNames.length)
    var textChars = 0
    i = 0
    while (i < raw.length) {
      val c = raw.charAt(i)
      var k = 0
      while (k < scriptLo.length) {
        if (c >= scriptLo(k) && c <= scriptHi(k)) scriptCount(k) += 1
        k += 1
      }
      textChars += 1
      if (Character.isHighSurrogate(c) && i + 1 < raw.length &&
        Character.isLowSurrogate(raw.charAt(i + 1))) i += 1 // codepoints
      i += 1
    }
    // argmax, ties to the lexicographically smallest language
    var bestScore = 0
    var bestLang: String = null
    var bestIdx = -1
    var bestIsScript = false
    var o = 0
    while (o < ordered.length) {
      val (l, idx, isScript) = ordered(o)
      val score = if (isScript) scriptCount(idx) else hit(idx)
      if (score > bestScore) {
        bestScore = score; bestLang = l; bestIdx = idx; bestIsScript = isScript
      }
      o += 1
    }
    val (lang, ratio) =
      if (bestScore == 0)
        ("und", if (nToks == 0) Double.NaN else occ(enIdx).toDouble / nToks)
      else if (bestIsScript)
        (bestLang, scriptCount(bestIdx).toDouble / textChars)
      else (bestLang, occ(bestIdx).toDouble / nToks)
    org.apache.spark.sql.catalyst.InternalRow(
      UTF8String.fromString(lang), ratio)
  }

  override protected def withNewChildInternal(newChild: Expression): LangStats =
    copy(child = newChild)
}

object LangStats {
  private[graftexpr] val SpacePlus = java.util.regex.Pattern.compile(" +")
}

/** One-EXPRESSION PII scan: [n_emails, n_phones, n_ipv4, n_ipv6, n_card,
  * redacted_chars], where redacted_chars is the CHARACTER length of the
  * text after replacing each match with
  * <EMAIL>/<PHONE>/<IPV6>/<IP>/<CARD> in that pass order.
  *
  * Semantics contract: BY CONSTRUCTION identical to the five sequential
  * `regexp_replace`/`regexp_extract_all` passes of the reference
  * formulation (and therefore to the DuckDB oracle) — the core literally
  * runs the five category passes over an in-memory string, each pass
  * counting + replacing on the previous pass's output, all inside one
  * codegen'd expression (no Spark-level string churn, no interpreted
  * HOFs).
  *
  * Why NOT a single fused alternation (the r4/r5 shape): with only
  * email/phone/ipv4 a fused matcher was provably equivalent, because any
  * lower-priority span abutting an email gets absorbed into the email's
  * local part ('+', digits and '.' are all local-part chars). IPv6 breaks
  * that argument — ':' is NOT a local-part char, so on `fe80::1@x.com`
  * the sequential oracle finds the email `1@x.com` first (the email pass
  * runs on pristine text) while a position-first fused scan would consume
  * `fe80::1` as IPv6 and see no email; space-grouped card numbers before
  * '@' diverge the same way. Sequential-in-the-JVM keeps engine-vs-oracle
  * agreement exact on adversarial inputs, not just on corpus text.
  * Cross-checked against the HOF formulation in OpsSpec.
  */
case class PiiScan(child: Expression) extends UnaryExpression
    with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType)
  override def prettyName: String = "pii_scan"

  override def nullSafeEval(input: Any): Any =
    PiiScan.of(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.sql.graftexpr.PiiScan.of($c)")

  override protected def withNewChildInternal(newChild: Expression): PiiScan =
    copy(child = newChild)
}

/** The redacted TEXT under the same five sequential passes as [[PiiScan]]
  * — ONE native expression instead of five Spark regexp_replace nodes, so
  * the curate projection pays the pass chain once with exactly the
  * counts' matcher semantics. */
case class PiiRedact(child: Expression) extends UnaryExpression
    with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = StringType
  override def prettyName: String = "pii_redact"

  override def nullSafeEval(input: Any): Any =
    PiiScan.redact(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.sql.graftexpr.PiiScan.redact($c)")

  override protected def withNewChildInternal(newChild: Expression): PiiRedact =
    copy(child = newChild)
}

object PiiScan {
  /** The single source of truth for the PII patterns (TextStats aliases
    * these; the oracle SQL interpolates them verbatim). Restricted to the
    * java.util.regex/RE2 common subset (no word boundaries, no
    * lookaround, no backrefs). */
  val Email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Phone = "\\+[0-9]{7,15}"
  val Ipv4 = "([0-9]{1,3}\\.){3}[0-9]{1,3}"

  /** IPv6: the full 8-group form, a `::`-compressed form with at least
    * one leading group (`fe80::1`), or a LEADING-`::` form with at least
    * one trailing group (`::1`, `::ffff:a.b.c.d`'s hex prefix). The
    * double colon is REQUIRED outside the full form, so clock times
    * `12:30:45` and MAC addresses (single colons only) never match; the
    * bare unspecified address `::` is deliberately NOT matched — web text
    * is full of `::`-as-scope-operator (C++ `std::vector`) and matching
    * naked `::` would shred it. Known conservative trade-off of the
    * no-lookaround (RE2-safe) pattern class: a lone hex-looking char
    * before `::` (the `d` in `std::vector`) still reads as a compressed
    * address — deterministic, mirrored in the oracle, and preferable to
    * missing real addresses. */
  val Ipv6 = "([0-9A-Fa-f]{1,4}:){7}[0-9A-Fa-f]{1,4}|" +
    "([0-9A-Fa-f]{1,4}:){1,7}:([0-9A-Fa-f]{1,4}(:[0-9A-Fa-f]{1,4}){0,6})?|" +
    "::[0-9A-Fa-f]{1,4}(:[0-9A-Fa-f]{1,4}){0,6}"

  /** Payment-card shape: four 4-digit groups separated by one space or
    * dash, or a bare 13-16 digit run — the conservative Luhn-free
    * syntactic filter (Luhn needs arithmetic a regex cannot express; the
    * pass order already keeps phone/IP digits out of the card count). */
  val Card = "[0-9]{4}([ -][0-9]{4}){3}|[0-9]{13,16}"

  /** Replacement tokens — shared with TextStats.redactPii and the d12
    * oracle SQL so the redacted-length arithmetic can never drift. */
  val EmailToken = "<EMAIL>"
  val PhoneToken = "<PHONE>"
  val IpToken = "<IP>"
  val Ipv6Token = "<IPV6>"
  val CardToken = "<CARD>"

  // compiled once; the pass ORDER is the priority contract (email first,
  // on pristine text; then phone/ipv6/ipv4/card, each on the previous
  // pass's redacted output)
  private val Passes: Array[(java.util.regex.Pattern, String)] = Array(
    java.util.regex.Pattern.compile(Email) -> EmailToken,
    java.util.regex.Pattern.compile(Phone) -> PhoneToken,
    java.util.regex.Pattern.compile(Ipv6) -> Ipv6Token,
    java.util.regex.Pattern.compile(Ipv4) -> IpToken,
    java.util.regex.Pattern.compile(Card) -> CardToken)

  /** One count+replace pass. Manual StringBuilder walk (not
    * Matcher.appendReplacement: the tokens are literals, so no `$`-escape
    * handling is needed, and counting happens in the same sweep). */
  private def pass(s: String, p: java.util.regex.Pattern,
      token: String): (Long, String) = {
    val m = p.matcher(s)
    if (!m.find()) return (0L, s) // common case: zero allocation
    val sb = new java.lang.StringBuilder(s.length)
    var n = 0L
    var last = 0
    do {
      sb.append(s, last, m.start()).append(token)
      last = m.end()
      n += 1
    } while (m.find())
    sb.append(s, last, s.length)
    (n, sb.toString)
  }

  private def scanAll(s: String): (Array[Long], String) = {
    val counts = new Array[Long](Passes.length)
    var cur = s
    var i = 0
    while (i < Passes.length) {
      val (n, next) = pass(cur, Passes(i)._1, Passes(i)._2)
      counts(i) = n
      cur = next
      i += 1
    }
    (counts, cur)
  }

  def of(u: UTF8String): ArrayData = {
    val (c, redacted) = scanAll(u.toString)
    // length in CHARACTERS (codepoints) — the Spark length()/DuckDB
    // LENGTH semantics; surrogate pairs count once
    val chars = redacted.codePointCount(0, redacted.length).toLong
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      // output order stays [emails, phones, ipv4, ipv6, card, chars]:
      // ipv4 keeps its historical slot 3 even though the ipv6 PASS runs
      // before the ipv4 pass (c indices follow pass order)
      Array[Long](c(0), c(1), c(3), c(2), c(4), chars))
  }

  def redact(u: UTF8String): UTF8String =
    UTF8String.fromString(scanAll(u.toString)._2)
}

/** 128-bit hash keys of every k-token sliding window of a token array, in
  * ONE pass: array&lt;struct(pos, h1, h2)&gt; with pos the 1-BASED window start
  * (matching `sequence(1, n-k+1)` in the declarative twin). Two independent
  * 64-bit keys per window, derived from two per-token xxhash64 streams
  * (seeds 42 and 0x9e3779b9) folded with Spark's multi-arg xxhash64
  * combiner (`XXH64.hashLong(tokenHash, running)`), so two windows collide
  * only under a simultaneous 128-bit collision — the same discrimination
  * argument as [[graft.ops.Dedup.exactKeyCols]].
  *
  * Replaces the `explode(transform(sequence(...), i => concat_ws(" ",
  * slice(tk, i, k))))` + 2x xxhash64-of-the-window-STRING formulation: the
  * HOF pipeline is interpreted per window (ArrayTransform is
  * CodegenFallback) and builds an O(k·token_len) string per window only to
  * hash it — the dominant cost of d19/d20 at every scale. Here each token
  * is hashed ONCE per stream and each window folds k longs. Window keys
  * are internal (the oracle groups window STRINGS), but equal windows map
  * to equal keys by construction: tokens from `split(trim(text), " +")`
  * contain no spaces, so the joined window string is injective in the
  * token sequence. Cross-checked against the string-keyed HOF twin in
  * OpsSpec. A null token element fails the task with an
  * IllegalArgumentException (a null ARRAY is a null result). */
case class WindowHashes(child: Expression, k: Int) extends UnaryExpression
    with ExpectsInputTypes {
  require(k >= 2, s"window must span at least 2 tokens: $k")

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("pos", IntegerType, nullable = false),
    StructField("h1", LongType, nullable = false),
    StructField("h2", LongType, nullable = false))), containsNull = false)
  override def prettyName: String = "window_hashes"

  override def nullSafeEval(input: Any): Any =
    evalArr(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("windowHashes", this,
      "org.apache.spark.sql.graftexpr.WindowHashes")
    defineCodeGen(ctx, ev, c => s"$ref.evalArr($c)")
  }

  def evalArr(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    val nw = n - k + 1
    if (nw < 1) {
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(
        Array.empty[Any])
    }
    val ha = new Array[Long](n)
    val hb = new Array[Long](n)
    var i = 0
    while (i < n) {
      // tokens from split() are never null. A null element has no key the
      // string-keyed twin would agree on (concat_ws DROPS nulls), so it
      // fails the task instead of hashing to a made-up window
      if (arr.isNullAt(i)) throw new IllegalArgumentException(
        s"window_hashes: null token at index $i; tokens must be non-null")
      val s = arr.getUTF8String(i)
      ha(i) = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes(), 42L)
      hb(i) = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes(), 0x9e3779b9L)
      i += 1
    }
    val out = new Array[Any](nw)
    var p = 0
    while (p < nw) {
      var h1 = 42L
      var h2 = 0x9e3779b9L
      var j = p
      val end = p + k
      while (j < end) {
        h1 = XXH64.hashLong(ha(j), h1)
        h2 = XXH64.hashLong(hb(j), h2)
        j += 1
      }
      out(p) = org.apache.spark.sql.catalyst.InternalRow(p + 1, h1, h2)
      p += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): WindowHashes =
    copy(child = newChild)
}

/** Span excision over a token array in ONE linear merge: given the sorted
  * (non-decreasing) 1-based start positions `ps` of this doc's duplicated
  * k-token windows, returns struct(n_removed, text) where n_removed is the
  * size of the union of covered positions [p, p+k-1] and text is the
  * uncovered tokens joined with single spaces.
  *
  * Replaces `array_distinct(flatten(transform(ps, p => sequence(p, p+k-1))))`
  * + a per-token `array_contains` filter — O(n_tokens x n_covered) per row
  * (the r6 ADVICE finding: a heavily-duplicated 100k-token doc did ~10^10
  * comparisons in one task). The merge walks tokens and positions once:
  * O(n_tokens + |ps|), worst case included. Output is value-identical to
  * the covered-set formulation (cross-checked in OpsSpec; the d20 oracle
  * re-derives the whole excision over window strings). */
case class ExciseTokens(left: Expression, right: Expression, k: Int)
    extends BinaryExpression with ExpectsInputTypes {
  require(k >= 2, s"window must span at least 2 tokens: $k")

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(StringType), ArrayType(IntegerType))
  override def dataType: DataType = StructType(Seq(
    StructField("n_removed", LongType, nullable = false),
    StructField("text", StringType, nullable = false)))
  override def prettyName: String = "excise_tokens"

  override def nullSafeEval(tokens: Any, positions: Any): Any =
    evalRow(tokens.asInstanceOf[ArrayData], positions.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("exciseTokens", this,
      "org.apache.spark.sql.graftexpr.ExciseTokens")
    defineCodeGen(ctx, ev, (t, p) => s"$ref.evalRow($t, $p)")
  }

  def evalRow(tokens: ArrayData, positions: ArrayData): org.apache.spark.sql.catalyst.InternalRow = {
    val n = tokens.numElements()
    val np = positions.numElements()
    val kept = new java.util.ArrayList[UTF8String](n)
    var removed = 0L
    var coverEnd = 0L // last covered 1-based position so far
    var pi = 0
    var j = 1 // 1-based token position
    while (j <= n) {
      while (pi < np && positions.getInt(pi) <= j) {
        val end = positions.getInt(pi).toLong + (k - 1)
        if (end > coverEnd) coverEnd = end
        pi += 1
      }
      if (j <= coverEnd) removed += 1
      else kept.add(if (tokens.isNullAt(j - 1)) null else tokens.getUTF8String(j - 1))
      j += 1
    }
    val text = UTF8String.concatWs(UTF8String.fromString(" "),
      kept.toArray(new Array[UTF8String](kept.size)): _*)
    org.apache.spark.sql.catalyst.InternalRow(removed, text)
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): ExciseTokens =
    copy(left = l, right = r)
}

/** Sign-LSH bucket (Charikar 2002 over real vectors) of a double-array
  * column against fixed hyperplanes, in one fused loop: bit j = 1 iff
  * dot(v, plane_j) > 0. Replicates the HOF formulation
  * `aggregate(zip_with(v, plane, _*_), 0.0, _+_)` bit-for-bit: sequential
  * double accumulation in array order, and a vector whose length differs
  * from the plane dimension yields bucket contribution 0 for every plane
  * (zip_with pads with null -> null dot -> CASE otherwise 0), exactly as
  * the declarative twin and the e02 oracle's baked-in literal planes
  * compute. Replaces bits x dim interpreted HOF evaluations per row. */
case class SignLshBucket(child: Expression, planes: Seq[Seq[Double]])
    extends UnaryExpression with ExpectsInputTypes {
  require(planes.nonEmpty && planes.size <= 64, "1..64 hyperplanes pack into a Long")

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = LongType
  override def prettyName: String = "sign_lsh_bucket"

  @transient private lazy val ps: Array[Array[Double]] = planes.map(_.toArray).toArray

  override def nullSafeEval(input: Any): Any =
    evalArr(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("signLshBucket", this,
      "org.apache.spark.sql.graftexpr.SignLshBucket")
    defineCodeGen(ctx, ev, c => s"$ref.evalArr($c)")
  }

  def evalArr(arr: ArrayData): Long = {
    val v = arr.toDoubleArray()
    var bucket = 0L
    var j = 0
    while (j < ps.length) {
      val p = ps(j)
      if (v.length == p.length) { // length mismatch -> null dot -> bit 0
        var s = 0.0
        var i = 0
        while (i < p.length) { s += v(i) * p(i); i += 1 }
        if (s > 0) bucket |= (1L << j)
      }
      j += 1
    }
    bucket
  }

  override protected def withNewChildInternal(newChild: Expression): SignLshBucket =
    copy(child = newChild)
}

/** Exact Jaccard similarity |A∩B| / |A∪B| of two string arrays under SET
  * semantics, in one hash-set pass — value-identical to the declarative
  * `size(array_intersect(a, b)) / size(array_distinct(concat(a, b)))`
  * for every non-null pair of arrays (distinctness of the inputs is NOT
  * assumed: both counts are over the element sets, exactly like
  * array_intersect / array_distinct; null ELEMENTS count as one set
  * member on each side, as the built-ins do). Two deliberate divergences,
  * both UNREACHABLE from the shingle pipeline (WordShingles returns a
  * non-empty, non-null array for every non-null text): an empty union
  * yields NULL where the ANSI-default Divide THREW DIVIDE_BY_ZERO, and a
  * top-level NULL array yields NULL where the built-in chain degenerated
  * to size(null) = -1 arithmetic — graceful-in, graceful-out on inputs
  * the declarative form mishandled.
  * Replaces two materialized intermediate arrays per compared
  * pair — the entire cost of the quadratic d06 oracle (11.9 s -> see
  * OPTIMIZATION_r07.md) and of d05's verification step. */
case class JaccardSim(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(StringType), ArrayType(StringType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "jaccard_sim"
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any =
    JaccardSim.of(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val pn = ctx.freshName("jac")
    nullSafeCodeGen(ctx, ev, (a, b) => {
      s"""Object $pn = org.apache.spark.sql.graftexpr.JaccardSim.of($a, $b);
         |if ($pn == null) { ${ev.isNull} = true; } else { ${ev.value} = ((Double) $pn).doubleValue(); }
         |""".stripMargin
    })
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): JaccardSim =
    copy(left = l, right = r)
}

object JaccardSim {
  /** null result encodes the 0/0 (empty-union) case. */
  def of(a: ArrayData, b: ArrayData): java.lang.Double = {
    val setA = new java.util.HashSet[UTF8String]()
    var aNull = false
    var i = 0
    val na = a.numElements()
    while (i < na) {
      if (a.isNullAt(i)) aNull = true else setA.add(a.getUTF8String(i))
      i += 1
    }
    var inter = 0
    val setB = new java.util.HashSet[UTF8String]()
    var bNull = false
    i = 0
    val nb = b.numElements()
    while (i < nb) {
      if (b.isNullAt(i)) {
        if (!bNull) { bNull = true; if (aNull) inter += 1 }
      } else if (setB.add(b.getUTF8String(i)) && setA.contains(b.getUTF8String(i))) {
        inter += 1
      }
      i += 1
    }
    val sa = setA.size + (if (aNull) 1 else 0)
    val sb = setB.size + (if (bNull) 1 else 0)
    val union = sa + sb - inter
    if (union == 0) null
    else java.lang.Double.valueOf(inter.toDouble / union.toDouble)
  }
}

/** The `k` smallest DISTINCT xxhash64 (seed 42) values over the
  * `gram`-char rolling grams of a string, ascending — the winnowing-sketch
  * core of d08 in one pass. Replicates the declarative twin
  * `slice(array_sort(array_distinct(transform(sequence(1, greatest(len-gram+1,
  * 1)), i => xxhash64(substr(s, i, gram))))), 1, k)` value-for-value: a
  * string shorter than `gram` (including empty) contributes its single
  * whole-string gram. Input is expected ASCII-normalized (the d08 chain
  * lowercases and strips to [a-z0-9] first) so char offsets equal byte
  * offsets; the general UTF8String.substring is used regardless, so
  * multi-byte input would still match the twin. Replaces one interpreted
  * HOF evaluation + substring allocation per gram (O(chars) per row). */
case class GramMinK(child: Expression, gram: Int, k: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(gram > 0 && k > 0, s"gram/k must be positive: $gram/$k")

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "gram_min_k"

  override def nullSafeEval(input: Any): Any =
    evalStr(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("gramMinK", this,
      "org.apache.spark.sql.graftexpr.GramMinK")
    defineCodeGen(ctx, ev, c => s"$ref.evalStr($c)")
  }

  def evalStr(u: UTF8String): ArrayData = {
    // one pass to map char index -> byte offset, then each gram hashes its
    // byte RANGE in place — substringSQL per position would re-walk the
    // string from byte 0 every call, the same hidden-quadratic class as
    // the r7 entity-scan fix (review finding). Works for any UTF-8 input,
    // not just the ASCII-normalized d08 chain; byte ranges equal the
    // substring's bytes, so hashes are unchanged.
    val nBytes = u.numBytes()
    val base = u.getBaseObject
    val off = u.getBaseOffset
    // char-start byte offsets (charOff(i) = byte offset of char i;
    // charOff(nChars) = nBytes)
    var nChars = 0
    var b = 0
    val charOff = new Array[Int](nBytes + 1)
    while (b < nBytes) {
      charOff(nChars) = b
      b += UTF8String.numBytesForFirstByte(u.getByte(b))
      nChars += 1
    }
    charOff(nChars) = nBytes
    val best = new java.util.TreeSet[java.lang.Long]()
    val count = math.max(nChars - gram + 1, 1)
    var i = 0
    while (i < count) {
      val start = charOff(i)
      val end = charOff(math.min(i + gram, nChars)) // clamps at the end
      val h = XXH64.hashUnsafeBytes(base, off + start, end - start, 42L)
      best.add(h)
      if (best.size > k) best.pollLast()
      i += 1
    }
    val out = new Array[Long](best.size)
    val it = best.iterator()
    var j = 0
    while (it.hasNext) { out(j) = it.next().longValue(); j += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): GramMinK =
    copy(child = newChild)
}
