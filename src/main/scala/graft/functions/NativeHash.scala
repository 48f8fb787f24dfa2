package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Native (codegen'd) Catalyst expressions for the text near-dup hot path.
  *
  * The HOF formulation (transform/aggregate lambdas) is interpreted — and
  * worse, optimizer rules like InferFiltersFromGenerate inline whole alias
  * trees into inferred filters, re-evaluating an inlined array expression
  * once per element_at reference (measured: 100×+ blowup on the shingle
  * pipeline). Fusing text→shingle-hashes into ONE expression makes every
  * inlined copy a single cheap JVM call and keeps whole-stage codegen
  * intact.
  *
  * Semantics are bit-identical to the HOF/DuckDB formulation (same
  * polyhash fold, same 31-combine, same distinct-set) — the oracles in
  * PipelineQueries replay them in SQL.
  */
object NativeHash {

  /** One builder per function — the single source of truth shared by the
    * library path ([[register]]) and the cluster path ([[GraftExtensions]]),
    * so the two surfaces can never drift (ADVICE round 1: GraftExtensions
    * was missing the three newest kernels).
    */
  private[functions] val builders: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("graft_shingle_hashes", "distinct 3-gram shingle hashes of a text column",
      exprs => ShingleHashes3(exprs.head)),
    ("graft_simhash32", "32-bit simhash of a long-array column",
      exprs => SimHash32(exprs.head)),
    ("graft_simhash60", "60-bit universal-hash simhash of a long-array column",
      exprs => SimHash60(exprs.head)),
    ("graft_span_hashes", "distinct n-word span hashes of a text column",
      exprs => SpanHashes(exprs.head,
        if (exprs.length > 1) foldableGram(exprs(1)) else 8)),
    ("graft_build_page", "deterministic multi-line page fixture from canonical tokens",
      exprs => PageBuild(exprs.head)),
    ("graft_clean_lines", "C4 line filter: terminal punct, min words, boilerplate blacklist",
      exprs => CleanLines(exprs.head,
        if (exprs.length > 1) foldableGram(exprs(1)) else 3)),
    ("graft_plant_pii", "deterministic contact-string fixture: coin-planted email/phone/IP/SSN tokens",
      exprs => PlantPii(exprs.head)),
    ("graft_dedup_lines", "in-document exact line dedup: keep first occurrence of each trimmed line",
      exprs => DedupLines(exprs.head)),
    ("graft_span_remove", "rebuild text dropping words covered by any dup-span hash",
      exprs => SpanRemove(exprs.head, exprs(1),
        if (exprs.length > 2) foldableGram(exprs(2)) else 8)),
    ("graft_min_gram_hash", "minimum rolling polyhash over n-char grams",
      exprs => MinGramHash(exprs.head,
        if (exprs.length > 1) foldableGram(exprs(1)) else 8)),
    ("graft_lang_scores", "per-language stopword hit counts",
      exprs => LangScores(exprs.head)),
    ("graft_intersect_size", "|A ∩ B| of two long-array set columns",
      exprs => IntersectSize(exprs.head, exprs(1))),
    ("graft_minhash_sig", "first-k MinHash signature minima of a shingle-hash array",
      exprs => MinhashSig(exprs.head,
        if (exprs.length > 1) foldableGram(exprs(1)) else 16)),
    ("graft_match_count", "positionwise-equal element count of two long arrays",
      exprs => MatchCount(exprs.head, exprs(1))),
    ("graft_dot", "dot product of two double-array columns, index-order fold",
      exprs => DotProduct(exprs.head, exprs(1))),
    ("graft_text_stats", "[n_words, n_uniq, word_chars, stop_hits, alpha_chars, re_tokens] in one pass",
      exprs => TextStats(exprs.head)),
    ("graft_rep_stats", "[n_tokens, uniq_tokens, uniq_2grams, uniq_3grams, max_token_count] in one pass",
      exprs => RepStats(exprs.head)),
    ("graft_polyhash", "full-string rolling polyhash (content-hash coin), codepoint fold",
      exprs => PolyHash(exprs.head)),
    ("graft_norm_text", "canonical text form: NFC, casefold, whitespace collapse, trim",
      exprs => NormText(exprs.head)),
    ("graft_norm", "L2 norm of a double-array column, index-order fold",
      exprs => VecNorm(exprs.head)),
    ("graft_plane_buckets", "sign-LSH band values against the constant hyperplane codebook",
      exprs => PlaneBuckets(exprs.head)),
    ("graft_fp_unit", "fixed-point unit vector floor(floor(e*1e6)*1e6/norm) — the oracle-exact k-means input",
      exprs => FpUnit(exprs.head)),
    ("graft_ivf_bucket", "1-based nearest-centroid index by cosine (first-max tie-break)",
      exprs => IvfBucket(exprs.head)),
    ("graft_ivf_probes", "1-based positions of the top-N centroid cosines",
      exprs => IvfProbes(exprs.head, if (exprs.length > 1) foldableGram(exprs(1)) else 2)),
    ("graft_pq_code", "1-based IVF-PQ residual codes per subspace (corpus index encoding)",
      exprs => PqCode(exprs.head)),
    ("graft_pq_code_at", "graft_pq_code for a vector whose coarse bucket is given: (e, bucket)",
      exprs => PqCodeAt(exprs.head, exprs(1))),
    ("graft_pq_score", "approximate cosine from (query vec, coarse bucket, PQ codes)",
      exprs => PqScore(exprs.head, exprs(1), exprs(2))),
    ("graft_avro_encode", "encode (event_type, k, user_id) as an Avro GraftEvent binary datum",
      exprs => AvroEncodeEvent(exprs)),
    ("graft_avro_decode", "decode an Avro GraftEvent datum to a struct; null on failure",
      exprs => AvroDecodeEvent(exprs.head)),
    ("graft_avro_encode_key", "encode a bigint key as an Avro long binary datum",
      exprs => AvroEncodeLong(exprs.head)),
    ("graft_avro_decode_key", "decode an Avro long key datum to bigint; null on failure",
      exprs => AvroDecodeLong(exprs.head)),
    ("graft_wav_wrap", "wrap a binary payload in a canonical RIFF/WAVE container",
      exprs => WavWrap(exprs.head, exprs(1), exprs(2), exprs(3))),
    ("graft_wav_meta", "chunk-walk a WAV blob into header fields; null when malformed",
      exprs => WavMeta(exprs.head)),
    ("graft_bmp_wrap", "wrap a binary payload as a 24-bpp uncompressed BMP (tiled pixels)",
      exprs => BmpWrap(exprs.head, exprs(1), exprs(2))),
    ("graft_bmp_resize", "nearest-neighbor BMP thumbnail: [out dims, bytes, src dims, resized-pixel hash]",
      exprs => BmpResize(exprs.head, exprs(1))),
    ("graft_wav_resample", "WAV decimation by d: [rate_out, format, frame counts, picked-sample hash]",
      exprs => WavResample(exprs.head, exprs(1))),
    ("graft_wav_ulaw", "G.711 mu-law companding roundtrip of a WAV: [format, n_samples, code/decoded hashes, max abs error]",
      exprs => WavUlaw(exprs.head)),
    ("graft_bmp_meta", "parse a BMP blob into header fields + decoded-pixel hash; null when malformed",
      exprs => BmpMeta(exprs.head)),
    ("graft_bmp_phash", "64-bit average-hash perceptual fingerprint of a BMP; null when malformed",
      exprs => BmpPhash(exprs.head)),
    ("graft_avi_wrap", "wrap a binary payload as a minimal valid uncompressed AVI (DIB frames)",
      exprs => AviWrap(exprs.head, exprs(1), exprs(2), exprs(3))),
    ("graft_avi_meta", "walk an AVI RIFF tree into header/index fields + all-frames pixel hash; null when malformed",
      exprs => AviMeta(exprs.head)),
    ("graft_avi_phash", "per-frame average-hash fingerprint strip of an AVI; null when malformed",
      exprs => AviPhash(exprs.head)),
    ("graft_wav_fingerprint", "15-bit energy-delta audio fingerprint of a WAV; null when malformed",
      exprs => WavFingerprint(exprs.head)),
    ("graft_bpe_merge", "one greedy left-to-right BPE merge pass over a symbol array",
      exprs => BpeMerge(exprs.head, exprs(1), exprs(2))),
    ("graft_top_k", "mergeable bounded top-k aggregate over bigints, descending array",
      exprs => TopKLongs(exprs.head, foldableGram(exprs(1))).toAggregateExpression()),
    ("graft_outer_sum", "exact upper-triangle outer-product-sum aggregate over fp unit vectors",
      exprs => OuterProductSum(exprs.head).toAggregateExpression()))

  /** Validates the integer parameter of parameterized kernels: must be a
    * foldable integral expression ≥ 1 (a BIGINT literal is fine; a column
    * reference or a non-positive value is a clear AnalysisException, not a
    * ClassCastException from eval(null)).
    */
  private def foldableGram(e: Expression): Int = {
    if (!e.foldable)
      throw new IllegalArgumentException(
        s"graft kernel parameter must be a foldable integer literal, got: ${e.sql}")
    val n = e.eval(null) match {
      case i: Int => i
      case l: Long => l.toInt
      case s: Short => s.toInt
      case b: Byte => b.toInt
      case other => throw new IllegalArgumentException(
        s"graft kernel parameter must be integral, got: $other")
    }
    if (n < 1)
      throw new IllegalArgumentException(s"graft kernel parameter must be >= 1, got: $n")
    n
  }

  /** Idempotent session-scoped registration; operators call this with the
    * session they were handed, so it works under the driver's session too.
    * Skips when already registered — re-registering logs a "replaced a
    * previously registered function" warning per call, which round 1
    * measured contaminating the Bench JSON stdout contract.
    */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    val missing = builders.exists { case (name, _, _) =>
      !reg.functionExists(org.apache.spark.sql.catalyst.FunctionIdentifier(name))
    }
    if (missing) builders.foreach { case (name, _, builder) =>
      reg.createOrReplaceTempFunction(name, builder, "built-in")
    }
  }
}

/** text → [n_words, n_uniq, word_chars, stop_hits, alpha_chars, re_tokens]
  * in one pass — the fused input of TextOps.quality AND TextOps.tokens
  * (the HOF form ran a separate interpreted pass per statistic; round 1
  * measured text_tokens' two regexp_extract_all passes at 11× the fused
  * quality cost). Counting mirrors the words()/stopwordHits()/regexp
  * formulations exactly (integer outputs, oracles unchanged): re_tokens
  * counts matches of `[a-z]+|[0-9]+|[^a-z0-9\s]` over lower(text) via a
  * single linear scan (letter runs, digit runs, one token per other
  * non-whitespace char — exactly what the alternation matches).
  */
case class TextStats(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_text_stats"

  override protected def nullSafeEval(input: Any): Any =
    TextStatsImpl.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextStatsImpl.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): TextStats =
    copy(child = newChild)
}

object TextStatsImpl {
  private val en = new java.util.HashSet[String](
    java.util.Arrays.asList(TextFunctions.langStopwords.head._2: _*))

  def compute(text: UTF8String): ArrayData = {
    val raw = text.toString
    val words = text.trim().toLowerCase().toString.split("[ \\t\\n\\f\\r]+", -1)
    val uniq = new java.util.HashSet[String](words.length * 2)
    var wordChars = 0L
    var stopHits = 0L
    var i = 0
    while (i < words.length) {
      val w = words(i)
      // codepoint count — Spark length() and DuckDB length() both count
      // codepoints, not UTF-16 units
      wordChars += w.codePointCount(0, w.length)
      uniq.add(w)
      if (en.contains(w)) stopHits += 1
      i += 1
    }
    // alpha count over lower(text), mirroring regexp_replace(lower, [^a-z])
    var alpha = 0L
    i = 0
    while (i < raw.length) {
      val c = raw.charAt(i)
      val lc = Character.toLowerCase(c)
      if (lc >= 'a' && lc <= 'z') alpha += 1
      i += 1
    }
    // token count over lower(text): one linear scan equivalent to
    // regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]') in
    // the ORACLE's dialect — RE2 \s is [ \t\n\f\r] WITHOUT vertical tab
    // (Java \s includes \x0B, RE2 does not; the oracle is the contract,
    // so U+000B counts as a token and the word splits above use the
    // same explicit class)
    val low = text.toLowerCase().toString
    var reTokens = 0L
    i = 0
    while (i < low.length) {
      val c = low.charAt(i)
      if (c >= 'a' && c <= 'z') {
        reTokens += 1
        i += 1
        while (i < low.length && low.charAt(i) >= 'a' && low.charAt(i) <= 'z') i += 1
      } else if (c >= '0' && c <= '9') {
        reTokens += 1
        i += 1
        while (i < low.length && low.charAt(i) >= '0' && low.charAt(i) <= '9') i += 1
      } else {
        if (!(c == ' ' || c == '\t' || c == '\n' || c == '\f' || c == '\r'))
          reTokens += 1
        // [^a-z0-9\s] matches one CODEPOINT — a surrogate pair is one
        // token, not two
        i += Character.charCount(low.codePointAt(i))
      }
    }
    new GenericArrayData(Array(words.length.toLong, uniq.size.toLong,
      wordChars, stopHits, alpha, reTokens))
  }
}

/** text → [n_tokens, uniq_tokens, uniq_2grams, uniq_3grams,
  * max_token_count] in one pass — the fused input of TextOps.repetition
  * (Gopher-style intra-document repetition signals). Tokenization is the
  * whitespace convention of [[TextStats]] (`lower(trim(text))` split on
  * the RE2 `\s` class), so the oracle's
  * `string_split_regex(lower(trim(text)), '\s+')` sees identical tokens;
  * n-grams are space-joined adjacent tokens (tokens cannot contain
  * whitespace, so the join is collision-free), distinct-counted exactly
  * like the oracle's `list_distinct(list_transform(range(...), ...))`.
  */
case class RepStats(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_rep_stats"

  override protected def nullSafeEval(input: Any): Any =
    RepStatsImpl.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.RepStatsImpl.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): RepStats =
    copy(child = newChild)
}

object RepStatsImpl {
  def compute(text: UTF8String): ArrayData = {
    val words = text.trim().toLowerCase().toString.split("[ \\t\\n\\f\\r]+", -1)
    val n = words.length
    val counts = new java.util.HashMap[String, Integer](n * 2)
    var maxCnt = 0L
    var i = 0
    while (i < n) {
      val c = counts.merge(words(i), Integer.valueOf(1),
        (a: Integer, b: Integer) => Integer.valueOf(a.intValue + b.intValue))
      if (c.intValue > maxCnt) maxCnt = c.intValue.toLong
      i += 1
    }
    val g2 = new java.util.HashSet[String](n * 2)
    i = 0
    while (i + 1 < n) { g2.add(words(i) + " " + words(i + 1)); i += 1 }
    val g3 = new java.util.HashSet[String](n * 2)
    i = 0
    while (i + 2 < n) { g3.add(words(i) + " " + words(i + 1) + " " + words(i + 2)); i += 1 }
    new GenericArrayData(Array(n.toLong, counts.size.toLong,
      g2.size.toLong, g3.size.toLong, maxCnt))
  }
}

/** Σ a(i)*b(i) over two double-array columns, in index order — the exact
  * IEEE operation sequence of aggregate(zip_with(a,b,*), 0.0, +) and the
  * oracle's list_reduce fold, so results stay bit-identical while running
  * ~10× faster than the interpreted HOF pair (the similarity rerank
  * kernel).
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.DoubleType
  override def prettyName: String = "graft_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    DotProductImpl.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.DotProductImpl.compute($a, $b)")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

object DotProductImpl {
  def compute(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      s += a.getDouble(i) * b.getDouble(i)
      i += 1
    }
    s
  }
}

/** |A ∩ B| for two long-array set columns — the near-dup verify kernel.
  * The built-in size(array_intersect(a,b)) materializes the intersection
  * array per pair in interpreted eval; this counts via one hash-set probe.
  * Inputs are distinct-element sets (shingle hashes), so the count equals
  * the oracle's len(list_intersect(a,b)).
  */
case class IntersectSize(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_intersect_size"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    IntersectSizeImpl.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.IntersectSizeImpl.compute($a, $b)")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): IntersectSize =
    copy(left = newLeft, right = newRight)
}

object IntersectSizeImpl {
  def compute(a: ArrayData, b: ArrayData): Long = {
    val (small, large) = if (a.numElements() <= b.numElements()) (a, b) else (b, a)
    val n = small.numElements()
    val set = new java.util.HashSet[java.lang.Long](n * 2)
    var i = 0
    while (i < n) { set.add(small.getLong(i)); i += 1 }
    var count = 0L
    val m = large.numElements()
    i = 0
    while (i < m) {
      if (set.contains(large.getLong(i))) count += 1
      i += 1
    }
    count
  }
}

/** Production registration path: `--conf spark.sql.extensions=graft.functions.GraftExtensions`
  * installs the native functions in every session of the cluster, so SQL
  * users get them without any library call. Operators still call
  * [[NativeHash.register]] defensively for ad-hoc sessions.
  */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
    NativeHash.builders.foreach { case (name, usage, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft.functions.NativeHash", null, name, usage,
          "", "", "", "", "", "", "built-in"),
        builder))
    }
    // naive |Δt| <= W theta joins rewrite to the banded equi-join
    ext.injectOptimizerRule(_ => graft.plans.BandedRangeJoinRule)
    // naive "latest prior row" aggregate-over-theta-join rewrites to the
    // union + window as-of plan
    ext.injectOptimizerRule(_ => graft.plans.AsOfJoinRule)
  }
}

/** text → distinct 3-gram shingle hashes (array<long>); the fused twin of
  * TextFunctions.{words → polyhash per word → combineShingles3}.
  */
case class ShingleHashes3(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_shingle_hashes"

  override protected def nullSafeEval(input: Any): Any =
    ShingleHashImpl.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ShingleHashImpl.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): ShingleHashes3 =
    copy(child = newChild)
}

/** text → distinct n-word contiguous-span hashes (array<long>) — the
  * generalized ShingleHashes3 (same tokenize + per-word polyhash, the
  * window fold runs over n words instead of 3). Spans are the unit of
  * benchmark decontamination at n-gram-window granularity: an 8-word
  * span match is strong evidence of verbatim leakage where a single
  * 3-gram is not.
  */
case class SpanHashes(child: Expression, n: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_span_hashes"

  override protected def nullSafeEval(input: Any): Any =
    SpanHashImpl.compute(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SpanHashImpl.compute($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): SpanHashes =
    copy(child = newChild)
}

object SpanHashImpl {
  private val M = TextFunctions.HashMod

  /** Mirrors ShingleHashImpl with an n-word window: per-word codepoint
    * polyhash, then the left fold h = (h·31 + wh(i+j)) mod M over each
    * window (starting 0 — identical to the oracle's list_reduce over the
    * word-hash slice), first-occurrence distinct.
    */
  def compute(text: UTF8String, n: Int): ArrayData = {
    val words = text.trim().toLowerCase().toString.split("[ \\t\\n\\f\\r]+", -1)
    val nw = words.length
    if (nw < n) return new GenericArrayData(Array.emptyLongArray)
    val wh = new Array[Long](nw)
    var i = 0
    while (i < nw) {
      val w = words(i)
      var h = 0L
      var j = 0
      while (j < w.length) {
        val cp = w.codePointAt(j)
        h = (h * 31L + cp.toLong) % M
        j += Character.charCount(cp)
      }
      wh(i) = h
      i += 1
    }
    val seen = new java.util.LinkedHashSet[java.lang.Long](nw * 2)
    i = 0
    while (i <= nw - n) {
      var h = 0L
      var j = 0
      while (j < n) { h = (h * 31L + wh(i + j)) % M; j += 1 }
      seen.add(h)
      i += 1
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = it.next(); k += 1 }
    new GenericArrayData(out)
  }
}

/** (text, dup_span_hashes, n) → struct(clean_text, n_words, n_removed) —
  * the ExactSubstr REMOVAL kernel (Lee et al., arXiv:2107.06499 §4):
  * recomputes the positional n-word span hashes of `text` (the same
  * tokenize + polyhash + 31-fold as [[SpanHashImpl]], WITHOUT the
  * distinct), and drops every word covered by a span whose hash is in
  * `dup_span_hashes` (the corpus-repeated vocabulary, df ≥ 2 — computed
  * by the caller's hash aggregate). The rebuilt text is the kept tokens
  * of the CANONICAL form (trim/lowercase/single-space — the same token
  * stream the hashes are defined over, so removal offsets can never
  * desynchronize from the hash positions).
  *
  * One linear pass per row: O(len + n·hits) with a hash-set membership
  * probe per span start. Counts come back alongside the text because the
  * all-words-removed and empty-input cases are indistinguishable from
  * the string alone ("" splits to [""], one token).
  */
case class SpanRemove(left: Expression, right: Expression, n: Int)
    extends BinaryExpression {
  override def dataType: DataType = SpanRemoveImpl.schema
  override def prettyName: String = "graft_span_remove"

  override protected def nullSafeEval(t: Any, d: Any): Any =
    SpanRemoveImpl.compute(t.asInstanceOf[UTF8String], d.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.SpanRemoveImpl.compute($a, $b, $n)")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): SpanRemove =
    copy(left = newLeft, right = newRight)
}

object SpanRemoveImpl {
  import org.apache.spark.sql.types.{StringType, StructField, StructType}
  private val M = TextFunctions.HashMod

  val schema: StructType = StructType(Seq(
    StructField("clean_text", StringType, nullable = false),
    StructField("n_words", LongType, nullable = false),
    StructField("n_removed", LongType, nullable = false)))

  def compute(text: UTF8String, dup: ArrayData, n: Int): org.apache.spark.sql.catalyst.InternalRow = {
    val words = text.trim().toLowerCase().toString.split("[ \\t\\n\\f\\r]+", -1)
    val nw = words.length
    val nd = dup.numElements()
    val drop = new Array[Boolean](nw)
    if (nw >= n && nd > 0) {
      val set = new java.util.HashSet[java.lang.Long](nd * 2)
      var d = 0
      while (d < nd) { set.add(dup.getLong(d)); d += 1 }
      val wh = new Array[Long](nw)
      var i = 0
      while (i < nw) {
        val w = words(i)
        var h = 0L
        var j = 0
        while (j < w.length) {
          val cp = w.codePointAt(j)
          h = (h * 31L + cp.toLong) % M
          j += Character.charCount(cp)
        }
        wh(i) = h
        i += 1
      }
      i = 0
      while (i <= nw - n) {
        var h = 0L
        var j = 0
        while (j < n) { h = (h * 31L + wh(i + j)) % M; j += 1 }
        if (set.contains(h)) {
          var k = i
          while (k < i + n) { drop(k) = true; k += 1 }
        }
        i += 1
      }
    }
    val sb = new java.lang.StringBuilder
    var kept = 0
    var i = 0
    while (i < nw) {
      if (!drop(i)) {
        if (kept > 0) sb.append(' ')
        sb.append(words(i))
        kept += 1
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](UTF8String.fromString(sb.toString), nw.toLong, (nw - kept).toLong))
  }
}

/** text → synthetic multi-line "page" — the line-structure FIXTURE
  * builder for the C4 line filter (the corpus tables carry no newlines
  * or punctuation, so line filtering would be vacuous on them; same
  * build-then-process pattern as the WAV/BMP/AVI container builders).
  * Deterministic and integer-replayable: the canonical tokens chunk into
  * 10-word lines, and a per-line coin `(polyhash(text) + i·2654435761)
  * mod 100` picks the line's fate — terminal '.', terminal '!', no
  * terminal punctuation, a trailing `{ … }` code fragment, a lorem-ipsum
  * line, or an enable-javascript line — so every C4 rule has real
  * positives and negatives in every document. The oracle replays the
  * construction verbatim in SQL.
  */
case class PageBuild(child: Expression) extends UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.StringType
  override def prettyName: String = "graft_build_page"

  override protected def nullSafeEval(input: Any): Any =
    PageBuildImpl.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.PageBuildImpl.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): PageBuild =
    copy(child = newChild)
}

object PageBuildImpl {
  private val M = TextFunctions.HashMod
  val LineWords = 10
  val Mult = 2654435761L // Knuth multiplicative constant, spreads the coin

  def compute(text: UTF8String): UTF8String = {
    val words = text.trim().toLowerCase().toString.split("[ \\t\\n\\f\\r]+", -1)
    val base = PolyHashImpl.compute(text)
    val nl = (words.length + LineWords - 1) / LineWords
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i < nl) {
      if (i > 0) sb.append('\n')
      val c = (base + i.toLong * Mult) % 100L
      if (c >= 90 && c < 95) sb.append("lorem ipsum dolor sit amet.")
      else if (c >= 95) sb.append("please enable javascript to continue.")
      else {
        val from = i * LineWords
        val until = math.min(from + LineWords, words.length)
        var j = from
        while (j < until) {
          if (j > from) sb.append(' ')
          sb.append(words(j))
          j += 1
        }
        if (c < 55) sb.append('.')
        else if (c < 70) sb.append('!')
        else if (c >= 80) sb.append(" function() { return 1; }.")
        // 70..79: no terminal punctuation — the punctuation rule's negatives
      }
      i += 1
    }
    UTF8String.fromString(sb.toString)
  }
}

/** (page, minWords) → struct(clean_text, n_lines, n_kept) — C4-style
  * line-level cleaning (Raffel et al., arXiv:1910.10683 §2.2): a line
  * survives iff it ends in terminal punctuation (. ! ? "), has at least
  * `minWords` words, and contains no '{', no "lorem ipsum", and no
  * "javascript" (case-insensitive). Kept lines are re-joined with
  * newlines in order, trimmed (the canonical line form the predicates
  * are evaluated over). One linear pass per row, codegen'd — the doc
  * rebuild adds no shuffle at any scale.
  */
case class CleanLines(child: Expression, minWords: Int)
    extends UnaryExpression {
  override def dataType: DataType = CleanLinesImpl.schema
  override def prettyName: String = "graft_clean_lines"

  override protected def nullSafeEval(input: Any): Any =
    CleanLinesImpl.compute(input.asInstanceOf[UTF8String], minWords)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.CleanLinesImpl.compute($c, $minWords)")

  override protected def withNewChildInternal(newChild: Expression): CleanLines =
    copy(child = newChild)
}

object CleanLinesImpl {
  import org.apache.spark.sql.types.{StringType, StructField, StructType}

  val schema: StructType = StructType(Seq(
    StructField("clean_text", StringType, nullable = false),
    StructField("n_lines", LongType, nullable = false),
    StructField("n_kept", LongType, nullable = false)))

  def compute(page: UTF8String, minWords: Int): org.apache.spark.sql.catalyst.InternalRow = {
    val lines = page.toString.split("\n", -1)
    val sb = new java.lang.StringBuilder
    var kept = 0
    var i = 0
    while (i < lines.length) {
      val t = lines(i).trim
      if (t.nonEmpty) {
        val last = t.charAt(t.length - 1)
        val terminal = last == '.' || last == '!' || last == '?' || last == '"'
        if (terminal && !t.contains("{")) {
          val lower = t.toLowerCase
          if (!lower.contains("lorem ipsum") && !lower.contains("javascript") &&
              t.split("[ \\t\\n\\f\\r]+", -1).length >= minWords) {
            if (kept > 0) sb.append('\n')
            sb.append(t)
            kept += 1
          }
        }
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](UTF8String.fromString(sb.toString), lines.length.toLong, kept.toLong))
  }
}

/** page → struct(clean_text, n_lines, n_kept) — in-DOCUMENT line-level
  * exact dedup (the Dolma-style within-page pass, arXiv:2402.00159 §2.2:
  * repeated nav/boilerplate lines are dropped where they repeat INSIDE a
  * page; cross-document repetition is pipeline_span_dedup's job). A line
  * is kept iff its trimmed form has not appeared earlier in the page;
  * kept lines are re-joined trimmed, in order. One linear pass with a
  * per-row hash set, codegen'd — zero shuffle at any scale.
  */
case class DedupLines(child: Expression) extends UnaryExpression {
  override def dataType: DataType = CleanLinesImpl.schema
  override def prettyName: String = "graft_dedup_lines"

  override protected def nullSafeEval(input: Any): Any =
    DedupLinesImpl.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.DedupLinesImpl.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): DedupLines =
    copy(child = newChild)
}

object DedupLinesImpl {
  def compute(page: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val lines = page.toString.split("\n", -1)
    val seen = new java.util.HashSet[String]
    val sb = new java.lang.StringBuilder
    var kept = 0
    var i = 0
    while (i < lines.length) {
      val t = lines(i).trim
      if (seen.add(t)) {
        if (kept > 0) sb.append('\n')
        sb.append(t)
        kept += 1
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](UTF8String.fromString(sb.toString), lines.length.toLong, kept.toLong))
  }
}

/** shingle-hash array → 32-bit SimHash (long); fused twin of
  * TextFunctions.simhash32's 32 bit-vote folds.
  */
case class SimHash32(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash32"

  override protected def nullSafeEval(input: Any): Any =
    SimHashImpl.compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SimHashImpl.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): SimHash32 =
    copy(child = newChild)
}

/** text → minimum polyhash over all `gram`-char substrings, via a true
  * O(len) rolling hash (winnowing-style fingerprint). Algebraically the
  * same per-gram polyhash the DuckDB oracle recomputes gram-by-gram.
  */
case class MinGramHash(child: Expression, gram: Int)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_min_gram_hash"

  override protected def nullSafeEval(input: Any): Any =
    MinGramHashImpl.compute(input.asInstanceOf[UTF8String], gram)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.MinGramHashImpl.compute($c, $gram)")

  override protected def withNewChildInternal(newChild: Expression): MinGramHash =
    copy(child = newChild)
}

object MinGramHashImpl {
  private val M = TextFunctions.HashMod

  /** Grams are windows of `gram` CODEPOINTS — the unit Spark's substring
    * (UTF8String.substringSQL) and DuckDB's substring both count — so the
    * kernel agrees with both on supplementary characters too.
    */
  def compute(text: UTF8String, gram: Int): Long = {
    val cps = text.toString.codePoints().toArray
    val n = cps.length
    if (n <= gram) {
      // single (possibly short) gram — matches substring(text, 1, gram)
      var h = 0L
      var i = 0
      while (i < n) { h = (h * 31L + cps(i).toLong) % M; i += 1 }
      return h
    }
    // 31^(gram-1) mod M, the weight of the outgoing char
    var pow = 1L
    var k = 0
    while (k < gram - 1) { pow = (pow * 31L) % M; k += 1 }
    var h = 0L
    var i = 0
    while (i < gram) { h = (h * 31L + cps(i).toLong) % M; i += 1 }
    var min = h
    while (i < n) {
      val out = (cps(i - gram).toLong * pow) % M
      h = (((h - out + M) % M) * 31L + cps(i).toLong) % M
      if (h < min) min = h
      i += 1
    }
    min
  }
}

/** text → array of per-language stopword hit counts (one tokenize pass,
  * all languages at once); fused twin of 5× TextFunctions.stopwordHits.
  * The language table is TextFunctions.langStopwords.
  */
case class LangScores(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_lang_scores"

  override protected def nullSafeEval(input: Any): Any =
    LangScoresImpl.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.LangScoresImpl.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): LangScores =
    copy(child = newChild)
}

object LangScoresImpl {
  private val sets: Array[java.util.HashSet[String]] =
    TextFunctions.langStopwords.map { case (_, list) =>
      new java.util.HashSet[String](java.util.Arrays.asList(list: _*))
    }.toArray

  def compute(text: UTF8String): ArrayData = {
    val words = text.trim().toLowerCase().toString.split("[ \\t\\n\\f\\r]+", -1)
    val counts = new Array[Long](sets.length)
    var i = 0
    while (i < words.length) {
      val w = words(i)
      var l = 0
      while (l < sets.length) {
        if (sets(l).contains(w)) counts(l) += 1
        l += 1
      }
      i += 1
    }
    new GenericArrayData(counts)
  }
}

/** Full-string rolling polyhash — the content-hash coin behind holdout
  * splits, mixture sampling, training-order shuffles, fingerprints and
  * multimodal checksums: fold (h*31 + cp) mod 1e9+7 over CODEPOINTS.
  * One codegen'd JVM call per row; the HOF twin
  * (TextFunctions.polyhash) materializes a per-character string array
  * and folds it interpreted — per-row garbage proportional to text
  * length on every hot path that flips a coin. Parity with the HOF and
  * the DuckDB list_reduce form is pinned in NativeHashSpec.
  */
case class PolyHash(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_polyhash"

  override protected def nullSafeEval(input: Any): Any =
    PolyHashImpl.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.PolyHashImpl.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): PolyHash =
    copy(child = newChild)
}

object PolyHashImpl {
  private val M = TextFunctions.HashMod

  def compute(s: UTF8String): Long = {
    val str = s.toString
    var h = 0L
    var i = 0
    val n = str.length
    while (i < n) {
      val cp = str.codePointAt(i)
      h = (h * 31L + cp) % M
      i += Character.charCount(cp)
    }
    h
  }
}

/** Canonical text form — the normalization stage every cleaning pipeline
  * runs BEFORE hashing/dedup so that byte-level variants of one document
  * (composed vs decomposed accents, case, whitespace runs) collapse to
  * one canonical string: Unicode NFC, then lowercase (Locale.ROOT), then
  * runs of [ \t\n\f\r] collapsed to a single space with ends trimmed —
  * the same explicit whitespace class as TextFunctions.words (RE2's \s
  * would also swallow \v). One codegen'd call per row.
  *
  * Dialect caveat (documented, spec-pinned): Java toLowerCase applies
  * FULL case mappings where DuckDB's utf8proc applies simple ones — they
  * agree on ASCII and the vast majority of BMP text; the oracle corpus
  * is ASCII, and the non-ASCII contract is pinned Spark-side in
  * NativeHashSpec instead.
  */
case class NormText(child: Expression) extends UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.StringType
  override def prettyName: String = "graft_norm_text"

  override protected def nullSafeEval(input: Any): Any =
    UTF8String.fromString(NormTextImpl.compute(input.asInstanceOf[UTF8String].toString))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"org.apache.spark.unsafe.types.UTF8String.fromString(" +
        s"graft.functions.NormTextImpl.compute($c.toString()))")

  override protected def withNewChildInternal(newChild: Expression): NormText =
    copy(child = newChild)
}

object NormTextImpl {
  private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\f' || c == '\r'

  def compute(s: String): String = {
    val lowered = java.text.Normalizer
      .normalize(s, java.text.Normalizer.Form.NFC)
      .toLowerCase(java.util.Locale.ROOT)
    val sb = new java.lang.StringBuilder(lowered.length)
    var i = 0
    var pendingSpace = false
    val n = lowered.length
    while (i < n) {
      val c = lowered.charAt(i)
      if (isWs(c)) {
        if (sb.length > 0) pendingSpace = true // leading ws never emits
      } else {
        if (pendingSpace) { sb.append(' '); pendingSpace = false }
        sb.append(c)
      }
      i += 1
    }
    sb.toString // trailing ws left pending, never emitted
  }
}

object ShingleHashImpl {
  private val M = TextFunctions.HashMod

  /** Mirrors split(lower(trim(text)), "\s+") → per-word polyhash →
    * ((h1*31+h2) mod M * 31 + h3) mod M → first-occurrence distinct.
    * The per-word fold iterates CODEPOINTS (not UTF-16 units), matching
    * the HOF twin (split("") keeps surrogate pairs whole; ascii() yields
    * the codepoint) and the DuckDB oracle — parity incl. supplementary
    * characters is pinned in NativeHashSpec.
    */
  def compute(text: UTF8String): ArrayData = {
    val words = text.trim().toLowerCase().toString.split("[ \\t\\n\\f\\r]+", -1)
    val n = words.length
    if (n < 3) return new GenericArrayData(Array.emptyLongArray)
    val wh = new Array[Long](n)
    var i = 0
    while (i < n) {
      val w = words(i)
      var h = 0L
      var j = 0
      while (j < w.length) {
        val cp = w.codePointAt(j)
        h = (h * 31L + cp.toLong) % M
        j += Character.charCount(cp)
      }
      wh(i) = h
      i += 1
    }
    val seen = new java.util.LinkedHashSet[java.lang.Long](n * 2)
    i = 0
    while (i < n - 2) {
      seen.add((((wh(i) * 31L + wh(i + 1)) % M) * 31L + wh(i + 2)) % M)
      i += 1
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = it.next(); k += 1 }
    new GenericArrayData(out)
  }
}

/** shingle-hash array → 60-bit SimHash (long). Shingle hashes are mod
  * 1e9+7 (~30 bits of entropy), so a wider signature cannot vote on the
  * raw bits — bit i's vote is instead the PARITY of an independent
  * universal hash (h·Aᵢ+Bᵢ) mod 2³¹-1, one ±1 hash per signature bit
  * (the classic Charikar construction). 60 bits (not 64) keeps the
  * packed signature NON-NEGATIVE, so `>>`/`&` banding arithmetic is
  * sign-free and identical in Spark and the DuckDB oracle. Banded as
  * 4 × 15-bit bands (32,768 values per band) by Dedup.simhashPairs —
  * the round-3 VERDICT #6 fix for the 1,024-total-bucket scale killer.
  */
case class SimHash60(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash60"

  override protected def nullSafeEval(input: Any): Any =
    SimHash60Impl.compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SimHash60Impl.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): SimHash60 =
    copy(child = newChild)
}

object SimHash60Impl {
  val Bits = 60
  private val P = TextFunctions.MinhashP

  /** Universal-hash multipliers/offsets per signature bit — same LCG
    * family as the MinHash params, mirrored literally in the oracle SQL
    * (Dedup.simhashBitA/B expose them for interpolation).
    */
  val A: Array[Long] = Array.tabulate(Bits) { i =>
    ((i + 1) * 2654435761L) % P match { case 0L => 1L; case a => a }
  }
  val B: Array[Long] = Array.tabulate(Bits)(i => ((i + 1) * 1013904223L) % P)

  /** Bit i set iff strictly more than half the hashes have odd
    * (h·Aᵢ+Bᵢ) mod p — h < 2³⁰ and Aᵢ < 2³¹ keep the product inside a
    * long, the same reason the MinHash params use p = 2³¹-1.
    */
  def compute(hs: ArrayData): Long = {
    val n = hs.numElements()
    val votes = new Array[Long](Bits)
    var i = 0
    while (i < n) {
      val h = hs.getLong(i)
      var b = 0
      while (b < Bits) {
        votes(b) += ((h * A(b) + B(b)) % P) & 1L
        b += 1
      }
      i += 1
    }
    var sim = 0L
    var b = 0
    while (b < Bits) {
      if (votes(b) * 2 > n) sim |= 1L << b
      b += 1
    }
    sim
  }
}

/** text → the canonical 10-word chunks with ONE coin-planted contact
  * token appended to some chunks — email / phone / IPv4 / SSN-shaped —
  * plus a deliberate near-miss ("u12@ex", no TLD) the redaction regexes
  * must NOT touch. The PII fixture builder for [[graft.operators.TextOps
  * .redactPii]]: the corpus vocabulary carries no contact strings, so
  * scrubbing it raw would be vacuous (same build-then-process pattern as
  * graft_build_page and the WAV/BMP/AVI container builders). Deterministic
  * and integer-replayable: coin c = (polyhash(text) + i·2654435761) mod
  * 100 picks the chunk's plant, digits derive from the same key mod 10⁴ —
  * the oracle replays the construction verbatim in SQL.
  */
case class PlantPii(child: Expression) extends UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.StringType
  override def prettyName: String = "graft_plant_pii"

  override protected def nullSafeEval(input: Any): Any =
    PlantPiiImpl.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.PlantPiiImpl.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): PlantPii =
    copy(child = newChild)
}

object PlantPiiImpl {
  private val Mult = PageBuildImpl.Mult
  private val Chunk = PageBuildImpl.LineWords

  private def pad(v: Long, w: Int): String = {
    val s = v.toString
    "0" * (w - s.length) + s
  }

  def compute(text: UTF8String): UTF8String = {
    val words = text.trim().toLowerCase().toString.split("[ \\t\\n\\f\\r]+", -1)
    val base = PolyHashImpl.compute(text)
    val nc = (words.length + Chunk - 1) / Chunk
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i < nc) {
      if (i > 0) sb.append(' ')
      val from = i * Chunk
      val until = math.min(from + Chunk, words.length)
      var j = from
      while (j < until) {
        if (j > from) sb.append(' ')
        sb.append(words(j))
        j += 1
      }
      val k = base + i.toLong * Mult
      val c = k % 100L
      val d = k % 10000L
      if (c >= 75 && c < 80) // near-miss: no TLD, must survive redaction
        sb.append(" u").append(d % 100).append("@ex")
      else if (c >= 80 && c < 85)
        sb.append(" u").append(d % 100).append("@ex").append(d % 7).append(".com")
      else if (c >= 85 && c < 90)
        sb.append(" +1-555-").append(pad(d % 1000, 3)).append('-').append(pad(d, 4))
      else if (c >= 90 && c < 95)
        sb.append(" 10.").append(d % 256).append('.').append((d / 16) % 256).append(".77")
      else if (c >= 95)
        sb.append(" 123-45-").append(pad(d, 4))
      i += 1
    }
    UTF8String.fromString(sb.toString)
  }
}

object SimHashImpl {

  /** Bit i set iff strictly more than half the hashes have bit i set. */
  def compute(hs: ArrayData): Long = {
    val n = hs.numElements()
    val votes = new Array[Long](32)
    var i = 0
    while (i < n) {
      val h = hs.getLong(i)
      var b = 0
      while (b < 32) {
        votes(b) += (h >> b) & 1L
        b += 1
      }
      i += 1
    }
    var sim = 0L
    var b = 0
    while (b < 32) {
      if (votes(b) * 2 > n) sim |= 1L << b
      b += 1
    }
    sim
  }
}

/** shingle hashes → the first-k MinHash signature minima (array<long>),
  * one pass over the input per row: each element contributes k universal
  * hashes (h·Aⱼ+Bⱼ mod 2³¹−1, the same Knuth-multiplier family as
  * Dedup.minhashA/B — the length-16 banding signature is the prefix of
  * this array). The whole array is built in one JVM call so projection
  * collapsing can never re-evaluate it per reference (the interpreted-HOF
  * landmine in SURVEY §5); consumers reference it exactly once (the est
  * pre-filter join in Dedup.minhashCandidatesSized).
  */
case class MinhashSig(child: Expression, k: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_minhash_sig"

  override protected def nullSafeEval(input: Any): Any =
    MinhashSigImpl.compute(input.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.MinhashSigImpl.compute($c, $k)")

  override protected def withNewChildInternal(newChild: Expression): MinhashSig =
    copy(child = newChild)
}

object MinhashSigImpl {
  private val P = TextFunctions.MinhashP
  val MaxK = 256
  /** (j+1)·2654435761 mod p (0 → 1) and (j+1)·1013904223 mod p — the
    * Dedup.minhashA/B formula extended to MaxK (prefix-compatible: the
    * first 16 entries ARE the banding params).
    */
  val A: Array[Long] = Array.tabulate(MaxK) { j =>
    ((j + 1) * 2654435761L) % P match { case 0L => 1L; case a => a }
  }
  val B: Array[Long] = Array.tabulate(MaxK)(j => ((j + 1) * 1013904223L) % P)

  def compute(hs: ArrayData, k: Int): ArrayData = {
    require(k >= 1 && k <= MaxK, s"graft_minhash_sig: k must be in [1, $MaxK], got $k")
    val n = hs.numElements()
    val out = new Array[Long](k)
    java.util.Arrays.fill(out, P)
    var i = 0
    while (i < n) {
      val h = hs.getLong(i)
      var j = 0
      while (j < k) {
        val v = (h * A(j) + B(j)) % P
        if (v < out(j)) out(j) = v
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** positionwise-equal element count of two long-array columns — the
  * MinHash signature-agreement estimator numerator (est = matches/k).
  * Null-length mismatch is a caller bug surfaced as an exception, not a
  * silent zero.
  */
case class MatchCount(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_match_count"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    MatchCountImpl.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.MatchCountImpl.compute($a, $b)")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): MatchCount =
    copy(left = newLeft, right = newRight)
}

object MatchCountImpl {
  def compute(a: ArrayData, b: ArrayData): Long = {
    val n = a.numElements()
    require(n == b.numElements(),
      s"graft_match_count: signature lengths differ ($n vs ${b.numElements()})")
    var c = 0L
    var i = 0
    while (i < n) {
      if (a.getLong(i) == b.getLong(i)) c += 1
      i += 1
    }
    c
  }
}
