package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Constant codebooks for the embedding similarity family (SURVEY.md §2c).
  *
  * Both codebooks are derived from a fixed integer LCG so the exact same
  * literals can be interpolated into the DuckDB oracle SQL; a production
  * deployment would fit these offline (see Similarity.fitCentroids) and
  * broadcast them — the kernel shape is identical either way.
  */
object Codebooks {
  val Dim = 64

  /** Sign-LSH banding parameters (round-3 VERDICT #6: total bucket count
    * must be a sizing PARAMETER, not a constant — per-band population is
    * N / 2^PlanesPerBand, so in-bucket candidate pairs grow quadratically
    * unless band cardinality is sized with the corpus). Defaults: 16
    * bands × 8 planes = 256-value bands. Sizing rules: 2^PlanesPerBand
    * scales with corpus size (keep per-bucket population bounded);
    * PlanesPerBand trades selectivity against recall at the operating
    * cosine (P[band match] = (1-θ/π)^planes — this corpus's near-dup
    * pairs sit at cos 0.40-0.51, where 8 planes keep recall ≈ 0.4 while
    * 16 planes would collapse it to ~0.01; a corpus whose dups sit at
    * cos ≥ 0.9 supports 16-bit bands); bands sized for target recall
    * (recall = 1-(1-p)^bands).
    */
  val EmbBands = 16
  val PlanesPerBand = 8
  val NPlanes: Int = EmbBands * PlanesPerBand

  /** IVF nlist default: ≈ √N at the bench scale (sf0.1, 5k vectors) —
    * real IVF deployments size nlist ~ √N so probe cost (nlist dots) and
    * per-bucket rerank population (N/nlist) balance.
    */
  val NCentroids = 64

  /** plane(p)(i) = (((1103515245*(p*Dim+i) + 12345) mod 2001) - 1000) / 1000 */
  val planes: IndexedSeq[IndexedSeq[Double]] =
    (0 until NPlanes).map(p => (0 until Dim).map(i =>
      (((1103515245L * (p * Dim + i) + 12345L) % 2001L) - 1000L) / 1000.0))

  /** IVF coarse-quantizer centroids: same generator family as the LSH
    * planes with an offset so the two codebooks never overlap (planes
    * consume generator rows 0..NPlanes-1 = 0..127; centroids start at
    * row 200). `centroidsFor` generates a codebook of any nlist — the
    * Similarity.ivfTopK nlist parameter.
    */
  def centroidsFor(n: Int): IndexedSeq[IndexedSeq[Double]] = {
    // generator-row budget: planes end at row 127, small codebooks own
    // rows 200..399, PQ sub-codebooks rows 400..527 — without this
    // guard a large nlist would silently share rows with the PQ
    // codebooks (correlated codebooks, quiet quality loss; round-4
    // ADVICE). Codebooks past the 200-row region move WHOLE to the
    // 10000.. region (r12 — the sf10 kNN-graph ladder outgrew 200): a
    // big codebook never partially overlaps a small one, and every
    // n ≤ 200 codebook is bit-identical to what the gates shipped.
    require(n <= 2048,
      s"centroidsFor(n=$n): the LCG row budget for coarse centroids is " +
        "2048 (rows 200..399 for n <= 200, rows 10000..12047 beyond)")
    val off = if (n <= 200) 200 else 10000
    (0 until n).map(c => (0 until Dim).map(i =>
      (((1103515245L * ((c + off) * Dim + i) + 12345L) % 2001L) - 1000L) / 1000.0))
  }

  val centroids: IndexedSeq[IndexedSeq[Double]] = centroidsFor(NCentroids)

  /** Fixed-point normalize for the oracle-exact k-means fits: m
    * (integer-valued doubles) → floor(mᵢ·S/‖m‖) at S = 10⁶, or null
    * when m is all zeros. Exact-integer arithmetic carried in doubles
    * plus one correctly-rounded sqrt and division per component — the
    * [[FpUnit]] shape, so DuckDB replays it from the same formula.
    */
  private[graft] def fpNormalize(m: Array[Double]): Array[Double] = {
    var n2 = 0.0
    var i = 0
    while (i < m.length) { n2 += m(i) * m(i); i += 1 }
    if (n2 == 0) null
    else {
      val s = math.sqrt(n2)
      val out = new Array[Double](m.length)
      i = 0
      while (i < m.length) {
        out(i) = math.floor(m(i) * VectorNativeImpl.FpScale / s)
        i += 1
      }
      out
    }
  }

  /** The k fp-normalized LCG seed centroids (generator rows 200..,
    * the [[centroidsFor]] rows BEFORE the /1000 value scaling — the
    * integers themselves seed the fixed-point iteration).
    */
  private[graft] def seedCentroidsFp(k: Int): Array[Array[Double]] = {
    require(k <= 200,
      s"seedCentroidsFp(k=$k): the LCG row budget for coarse centroids is 200")
    Array.tabulate(k)(c => fpNormalize(Array.tabulate(Dim)(i =>
      (((1103515245L * ((c + 200) * Dim + i) + 12345L) % 2001L) - 1000L).toDouble)))
  }

  /** The fp-normalized form of [[centroidsFor]]'s laddered book (r16 —
    * the fitted-residual-book reference): floor(gᵢ·S/‖g‖) over the SAME
    * raw LCG integers the value book scales /1000, so the fp book and
    * the value book share exact directions up to the fp floor.
    * fpNormalize is scale-invariant over exact inputs, and the raw
    * integers (not the /1000 doubles, which are inexact in binary) are
    * what both engines normalize — the DuckDB mirror is the
    * kmeansFitCtes fc0 shape with the ladder's row offset. Residual
    * fits subtract THIS book from the fp unit vectors; the serving
    * (value-book) assignment stays byte-identical to the formula row's.
    */
  private[graft] def fpCentroidsFor(n: Int): Array[Array[Double]] = {
    require(n <= 2048,
      s"fpCentroidsFor(n=$n): the LCG row budget for coarse centroids is " +
        "2048 (rows 200..399 for n <= 200, rows 10000..12047 beyond)")
    val off = if (n <= 200) 200 else 10000
    Array.tabulate(n)(c => fpNormalize(Array.tabulate(Dim)(i =>
      (((1103515245L * ((c + off) * Dim + i) + 12345L) % 2001L) - 1000L).toDouble)))
  }

  /** MIPS-fit seeds (r15): the rows-600 MIPS LCG integers — the formula
    * codebook's OWN generator rows, the seed == formula-book pattern
    * [[seedCentroidsFp]] sets — fp-normalized over Dim+1 components.
    * fpNormalize is scale-invariant, so seeding from the raw integers
    * equals seeding from the /1000 formula values bit-for-bit.
    */
  private[graft] def seedMipsCentroidsFp(k: Int): Array[Array[Double]] = {
    require(k <= NCentroids,
      s"seedMipsCentroidsFp(k=$k): the bit-frozen MIPS row budget is $NCentroids")
    Array.tabulate(k)(c => fpNormalize(Array.tabulate(Dim + 1)(i =>
      (((1103515245L * ((c + MipsRowBase).toLong * (Dim + 1) + i) + 12345L)
        % 2001L) - 1000L).toDouble)))
  }

  /** The LADDERED form of [[seedMipsCentroidsFp]] (r16 — the MIPS
    * fitted serving ladder): bit-identical to it for k ≤ NCentroids
    * (same rows-600 region), the fresh 20000.. region beyond — the
    * [[fpCentroidsFor]] pattern over the (Dim+1)-dim augmented space.
    */
  private[graft] def fpMipsCentroidsFor(n: Int): Array[Array[Double]] = {
    require(n <= 2048,
      s"fpMipsCentroidsFor(n=$n): the LCG row budget for MIPS centroids is " +
        "2048 (rows 600.. for n <= 64, rows 20000.. beyond)")
    val off = if (n <= NCentroids) MipsRowBase else MipsBigRowBase
    Array.tabulate(n)(c => fpNormalize(Array.tabulate(Dim + 1)(i =>
      (((1103515245L * ((c + off).toLong * (Dim + 1) + i) + 12345L)
        % 2001L) - 1000L).toDouble)))
  }

  /** Product-quantization sub-codebooks (IVF-PQ residual refinement):
    * PqM subspaces of PqSub dims, PqK codes each. Same LCG family from
    * generator rows 400.. (planes use rows 0..NPlanes-1, coarse
    * centroids rows 200..200+NCentroids-1 — no overlap), scaled /4000
    * instead of /1000 because codes quantize RESIDUALS û−ĉ, whose
    * subvector norms are ~4× smaller than unit-vector coordinates.
    */
  val PqM = 8
  val PqSub: Int = Dim / PqM
  val PqK = 16
  // lazy: PqBook's cases read PqM/PqK/Dim during their own init, so the
  // object init must not reach back into PqBook
  lazy val pqCents: Array[Array[Array[Double]]] =
    Array.tabulate(PqM, PqK, PqSub)((m, k, d) =>
      (((1103515245L * PqBook.Narrow.seedPosition(m, k, d) + 12345L) % 2001L) - 1000L) / 4000.0)

  /** The residual-PQ book shapes — the single source of each book's
    * subspace count `m`, codes per subspace `k`, fit sample (first
    * `fitSample` vec_ids) and LCG seed region (rows `seedRowBase`..,
    * stride Dim). A closed set: a new shape is a new case here plus a
    * fresh, ledger-disjoint region (SimilaritySpec pins the raw
    * positions). The fit sample keeps rows-per-cell density at the
    * narrow book's 128 for the 16-subspace book (sample = 2048·k/16);
    * the 8×64 book keeps the 2048-row sample it was measured on.
    *
    *   - Narrow: 8×16, 2048 rows, rows 400..527 — the serving default
    *     and the [[pqCents]] formula book's own region;
    *   - Wide: 8×64, 2048 rows, rows 30000..30511 (the hq arm);
    *   - M16: 16×64, 8192 rows, rows 41000..42023 (the m16 arm).
    *
    * Rows 40000..40255 (a 16×16 book) stay RESERVED: that shape was
    * measured and has no caller, and its region must not be reused.
    */
  sealed abstract class PqBook(val label: String, val m: Int, val k: Int,
                               val fitSample: Int, val seedRowBase: Int) {
    val sub: Int = Dim / m

    /** Raw LCG generator position of seed component d of code k in
      * subspace m — (base + m·K + k)·Dim + d, d < sub ≤ Dim. */
    def seedPosition(mi: Int, ki: Int, d: Int): Long =
      (seedRowBase + mi * k + ki).toLong * Dim + d
  }

  object PqBook {
    case object Narrow extends PqBook("narrow", PqM, PqK, 2048, 400)
    case object Wide extends PqBook("wide", 8, 64, 2048, 30000)
    case object M16 extends PqBook("m16", 16, 64, 8192, 41000)
  }

  private[functions] val planesArr: Array[Array[Double]] = planes.map(_.toArray).toArray
  private[graft] val centroidsArr: Array[Array[Double]] = centroids.map(_.toArray).toArray

  /** MIPS-reduction coarse codebook (r13): (Dim+1)-dim centroids over the
    * norm-AUGMENTED vector space of the Bachrach et al. reduction —
    * generator rows start at 600 with stride Dim+1 (every other codebook
    * strides Dim over rows 0..127 / 200..399 / 400..527 / 10000..12047,
    * so the fresh row region keeps this codebook disjoint). Mirrored
    * verbatim in the sim_topk_mips_ivf oracle's mcent CTE.
    */
  val MipsRowBase = 600

  /** Big-codebook LCG row region for the MIPS ladder (r14, round-13
    * VERDICT #2): rows 20000.. at stride Dim+1 — raw generator positions
    * start at 20000·65 = 1,300,000, past every other region's end (the
    * cosine big codebooks stop at 12048·64 = 771,072), so a sized MIPS
    * codebook never shares generator values with planes / coarse / PQ /
    * cosine-big / the bit-frozen 64-row MIPS serving book.
    */
  val MipsBigRowBase = 20000

  /** MIPS codebook of any nlist — the [[centroidsFor]] twin over the
    * (Dim+1)-dim augmented space: n ≤ [[NCentroids]] keeps the
    * bit-frozen rows 600.. (every gate scale identical), bigger books
    * generate WHOLE from the fresh 20000.. region (never a partial
    * overlap with the small book). Mirrored verbatim in the
    * sim_topk_mips_ivf oracle's mcent CTE.
    */
  def mipsCentroidsFor(n: Int): Array[Array[Double]] = {
    require(n <= 2048,
      s"mipsCentroidsFor(n=$n): the LCG row budget for MIPS centroids is " +
        "2048 (rows 600.. for n <= 64, rows 20000.. beyond)")
    val off = if (n <= NCentroids) MipsRowBase else MipsBigRowBase
    Array.tabulate(n, Dim + 1)((c, i) =>
      (((1103515245L * ((c + off).toLong * (Dim + 1) + i) + 12345L) % 2001L) - 1000L) / 1000.0)
  }

  val mipsCentroidsArr: Array[Array[Double]] = mipsCentroidsFor(NCentroids)
  val mipsCentroidNorms: Array[Double] =
    mipsCentroidsArr.map(c => math.sqrt(c.map(x => x * x).sum))

  /** sqrt(Σ x²) per centroid, summed in index order (the same left fold the
    * oracle literal `CAST(<norm> AS DOUBLE)` is computed with in Scala).
    */
  val centroidNorms: Array[Double] =
    centroidsArr.map(c => math.sqrt(c.map(x => x * x).sum))

  /** Unit-normalized coarse centroids ĉ = c/‖c‖ — the basis PQ residuals
    * are taken against (and the coarse term of the PQ approximate score).
    */
  private[graft] val centroidsHat: Array[Array[Double]] =
    centroidsArr.zip(centroidNorms).map { case (c, n) => c.map(_ / n) }

  /** Normalized MIPS coarse centroids ĉ = c/‖c‖ — the 65-dim twin of
    * [[centroidsHat]] for the augmented-space PQ serving path (r14). */
  private[graft] val mipsCentroidsHat: Array[Array[Double]] =
    mipsCentroidsArr.zip(mipsCentroidNorms).map { case (c, n) => c.map(_ / n) }

  /** MIPS-PQ sub-codebooks (r14): the augmented 65-dim space factors as
    * 5 subspaces × 13 dims (65 has no 8-way split), PqK codes each —
    * same LCG family from fresh generator rows 700.. at stride 65 (raw
    * positions 45,500..50,647 — last row 779·65+12: past the cosine PQ
    * region's 33,791 end and the MIPS coarse book's 43,159, before the
    * cosine big-codebook region at 640,000), same /4000 residual value
    * scale. Mirrored
    * verbatim in the sim_topk_mips_ivf_pq oracle's mpq CTE.
    */
  val MipsPqM = 5
  val MipsPqSub: Int = (Dim + 1) / MipsPqM
  val MipsPqRowBase = 700
  val mipsPqCents: Array[Array[Array[Double]]] =
    Array.tabulate(MipsPqM, PqK, MipsPqSub)((m, k, d) =>
      (((1103515245L * ((MipsPqRowBase + m * PqK + k).toLong * (Dim + 1) + d) + 12345L) % 2001L) - 1000L) / 4000.0)

  /** A pluggable PQ codebook must match the fixed (PqM × PqK × PqSub)
    * subspace layout — a wrong shape would silently mis-slice residuals
    * or throw per-row on the executor.
    */
  private[functions] def requirePqShape(pq: Array[Array[Array[Double]]],
                                        kernel: String): Unit = {
    // RECTANGULAR is the invariant (r14 — the kernels derive (M, K, sub)
    // from the codebook itself so the 8×16×8 cosine and 5×16×13
    // augmented-MIPS books share one implementation); a ragged book
    // would silently mis-slice residuals or throw per-row on executors.
    require(pq.nonEmpty && pq(0).nonEmpty && pq(0)(0).nonEmpty,
      s"$kernel: PQ codebook must be non-empty")
    val (k0, s0) = (pq(0).length, pq(0)(0).length)
    require(pq.forall(m => m.length == k0 && m.forall(_.length == s0)),
      s"$kernel: PQ codebook must be rectangular (${pq.length} x $k0 x $s0)")
  }
}

/** √(Σ xᵢ²) over an array<double> column — the fused twin of
  * VectorFunctions.norm (sqrt ∘ aggregate(transform(a, x*x), 0.0, +)):
  * the identical IEEE operation sequence, one JVM call per row instead of
  * an interpreted two-HOF chain that optimizer inlining re-evaluates per
  * downstream reference.
  */
case class VecNorm(child: Expression) extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_norm"

  override protected def nullSafeEval(input: Any): Any =
    VectorNativeImpl.norm(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.VectorNativeImpl.norm($c)")

  override protected def withNewChildInternal(newChild: Expression): VecNorm =
    copy(child = newChild)
}

/** e → the FIXED-POINT unit vector x̂ (array<double> of integer values):
  * x̂ᵢ = floor(xfᵢ · S / ‖xf‖) with xfᵢ = floor(eᵢ · S), S = 10⁶ — the
  * engine-exact normalization the k-means fit iterates over (round-11
  * VERDICT #1: the float fit's partition-ordered sums were the ONLY
  * reason the fitted-codebook rows were rows-gated). Every step is
  * either exact integer arithmetic carried in doubles (all magnitudes
  * < 2⁵³: |eᵢ| < 8 keeps xfᵢ² ≤ 6.4·10¹³ and Σ ≤ 4·10¹⁵) or a single
  * correctly-rounded IEEE op (sqrt, one division, floor) — so DuckDB
  * replays it bit-for-bit from the same formula. NULL for the zero
  * vector (no direction to fit).
  */
case class FpUnit(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_fp_unit"

  override protected def nullSafeEval(input: Any): Any =
    VectorNativeImpl.fpUnit(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.VectorNativeImpl.fpUnit($c);
      ${ev.isNull} = ${ev.value} == null;
    """)

  override protected def withNewChildInternal(newChild: Expression): FpUnit =
    copy(child = newChild)
}

/** e → array<int> of sign-LSH band values (Codebooks.EmbBands entries,
  * 4 sign bits each): the fused twin of 8× VectorFunctions.planeDot +
  * bit assembly, which ran as 8 interpreted aggregate(zip_with) folds per
  * row (the What's-wrong #2 hazard of VERDICT round 1). Dot products fold
  * in index order — bit-identical to the HOF form and the DuckDB oracle.
  */
case class PlaneBuckets(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "graft_plane_buckets"

  override protected def nullSafeEval(input: Any): Any =
    VectorNativeImpl.planeBuckets(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.VectorNativeImpl.planeBuckets($c)")

  override protected def withNewChildInternal(newChild: Expression): PlaneBuckets =
    copy(child = newChild)
}

/** e → 1-based index of the nearest centroid by cosine (first index wins
  * ties) — the corpus-side IVF bucket. Mirrors
  * `array_position(cc, array_max(cc))` over
  * cc[c] = dot(e, centroid_c) / (norm(e) * centroidNorm_c) exactly,
  * computing all cosines in ONE JVM call instead of 16 interpreted
  * HOF folds re-evaluated per array reference. The codebook defaults to
  * the oracle-replayable LCG constants; a k-means-fitted codebook
  * (Similarity.fitCentroids) plugs in through the same kernel — codegen
  * carries it as a reference object, still one call per row.
  */
case class IvfBucket(child: Expression,
                     cents: Array[Array[Double]] = Codebooks.centroidsArr,
                     cnorms: Array[Double] = Codebooks.centroidNorms)
    extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_ivf_bucket"

  override protected def nullSafeEval(input: Any): Any =
    VectorNativeImpl.ivfBucket(input.asInstanceOf[ArrayData], cents, cnorms)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cRef = ctx.addReferenceObj("ivfCents", cents, "double[][]")
    val nRef = ctx.addReferenceObj("ivfNorms", cnorms, "double[]")
    defineCodeGen(ctx, ev,
      c => s"graft.functions.VectorNativeImpl.ivfBucket($c, $cRef, $nRef)")
  }

  override protected def withNewChildInternal(newChild: Expression): IvfBucket =
    copy(child = newChild)
}

/** e → array<int> of the query's `probes` probe buckets: position of the
  * p-th largest centroid cosine, first-position-of-value semantics —
  * mirrors `array_position(cc, element_at(sort_array(cc, desc), p))`
  * (and the oracle's list_position/list_sort) including its duplicate-
  * value behavior; downstream `distinct()` collapses repeats identically.
  * Codebook pluggable exactly as in [[IvfBucket]].
  */
case class IvfProbes(child: Expression, probes: Int,
                     cents: Array[Array[Double]] = Codebooks.centroidsArr,
                     cnorms: Array[Double] = Codebooks.centroidNorms)
    extends UnaryExpression {
  // clear analysis-time error instead of an executor-side
  // ArrayIndexOutOfBoundsException when asked for more probes than the
  // codebook has centroids
  if (probes > cents.length)
    throw new IllegalArgumentException(
      s"graft_ivf_probes: probes=$probes exceeds the codebook size ${cents.length}")

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "graft_ivf_probes"

  override protected def nullSafeEval(input: Any): Any =
    VectorNativeImpl.ivfProbes(input.asInstanceOf[ArrayData], probes, cents, cnorms)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cRef = ctx.addReferenceObj("ivfCents", cents, "double[][]")
    val nRef = ctx.addReferenceObj("ivfNorms", cnorms, "double[]")
    defineCodeGen(ctx, ev,
      c => s"graft.functions.VectorNativeImpl.ivfProbes($c, $probes, $cRef, $nRef)")
  }

  override protected def withNewChildInternal(newChild: Expression): IvfProbes =
    copy(child = newChild)
}

/** e → array<int> of PqM 1-based PQ code indices for the vector's residual
  * û − ĉ_b against its coarse bucket b — the corpus-side IVF-PQ encoding:
  * 8 small ints replace 64 doubles in the candidate index, so candidate
  * generation + approximate scoring never touch the full vectors. Codes
  * are argmin-of-squared-L2 per subspace, first-min tie-break (the
  * oracle's list_position(d, list_min(d)) semantics). Codebooks default
  * to the oracle-replayable LCG constants; data-fitted coarse + PQ
  * codebooks (Similarity.ivfPqTopKFitted) plug in through the same
  * kernel — codegen carries them as reference objects.
  */
case class PqCode(child: Expression,
                  cents: Array[Array[Double]] = Codebooks.centroidsArr,
                  cnorms: Array[Double] = Codebooks.centroidNorms,
                  centsHat: Array[Array[Double]] = Codebooks.centroidsHat,
                  pq: Array[Array[Array[Double]]] = Codebooks.pqCents)
    extends UnaryExpression {
  Codebooks.requirePqShape(pq, "graft_pq_code")

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "graft_pq_code"

  override protected def nullSafeEval(input: Any): Any =
    VectorNativeImpl.pqCode(input.asInstanceOf[ArrayData], cents, cnorms, centsHat, pq)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cRef = ctx.addReferenceObj("pqCoarse", cents, "double[][]")
    val nRef = ctx.addReferenceObj("pqCoarseNorms", cnorms, "double[]")
    val hRef = ctx.addReferenceObj("pqCoarseHat", centsHat, "double[][]")
    val pRef = ctx.addReferenceObj("pqCents", pq, "double[][][]")
    defineCodeGen(ctx, ev,
      c => s"graft.functions.VectorNativeImpl.pqCode($c, $cRef, $nRef, $hRef, $pRef)")
  }

  override protected def withNewChildInternal(newChild: Expression): PqCode =
    copy(child = newChild)
}

/** e → the vector's total squared PQ quantization error as a
  * fixed-point BIGINT (r17b — the index-quality card's kernel): the
  * residual û − ĉ_b against the vector's coarse bucket is quantized per
  * subspace exactly as [[PqCode]] assigns it, and the error is
  * Σ_m min_k ‖r_m − pq_m[k]‖² folded in ascending m — the identical
  * double arithmetic the oracle's sdists CTEs replay — then
  * trunc-toward-zero at scale 10⁶ (Double.toLong == DuckDB
  * trunc()::BIGINT, the PcaWhiten precedent; the scale is COARSE so an
  * ulp-level engine divergence cannot reach a trunc boundary — r18,
  * the fp-10¹² card flipped its hash on the driver box). Per-vector
  * errors are
  * bounded (unit-space residuals), but corpus SUMS are not — callers
  * aggregate in DECIMAL(38,0). Codebooks pluggable as in [[PqCode]].
  */
case class PqError(child: Expression,
                   cents: Array[Array[Double]],
                   cnorms: Array[Double],
                   centsHat: Array[Array[Double]],
                   pq: Array[Array[Array[Double]]])
    extends UnaryExpression {
  Codebooks.requirePqShape(pq, "graft_pq_error")

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_pq_error"

  override protected def nullSafeEval(input: Any): Any =
    VectorNativeImpl.pqError(input.asInstanceOf[ArrayData], cents, cnorms, centsHat, pq)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cRef = ctx.addReferenceObj("pqCoarse", cents, "double[][]")
    val nRef = ctx.addReferenceObj("pqCoarseNorms", cnorms, "double[]")
    val hRef = ctx.addReferenceObj("pqCoarseHat", centsHat, "double[][]")
    val pRef = ctx.addReferenceObj("pqCents", pq, "double[][][]")
    defineCodeGen(ctx, ev,
      c => s"graft.functions.VectorNativeImpl.pqError($c, $cRef, $nRef, $hRef, $pRef)")
  }

  override protected def withNewChildInternal(newChild: Expression): PqError =
    copy(child = newChild)
}

/** (query e, candidate bucket, candidate codes) → approximate cosine
  * q̂·(ĉ_b + Σ_m pq_m[code_m]) — the IVF-PQ lookup score, one JVM call per
  * (query, candidate) pair with no corpus-vector access. Folds run in
  * index order so the oracle can replay them exactly. Codebooks pluggable
  * exactly as in [[PqCode]] — score and code must ride the SAME fit.
  */
case class PqScore(first: Expression, second: Expression, third: Expression,
                   centsHat: Array[Array[Double]] = Codebooks.centroidsHat,
                   pq: Array[Array[Array[Double]]] = Codebooks.pqCents)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {
  Codebooks.requirePqShape(pq, "graft_pq_score")

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_pq_score"

  override protected def nullSafeEval(eq: Any, bucket: Any, codes: Any): Any =
    VectorNativeImpl.pqScore(eq.asInstanceOf[ArrayData],
      bucket.asInstanceOf[Int], codes.asInstanceOf[ArrayData], centsHat, pq)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val hRef = ctx.addReferenceObj("pqCoarseHat", centsHat, "double[][]")
    val pRef = ctx.addReferenceObj("pqCents", pq, "double[][][]")
    defineCodeGen(ctx, ev,
      (a, b, c) => s"graft.functions.VectorNativeImpl.pqScore($a, $b, $c, $hRef, $pRef)")
  }

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): PqScore =
    copy(first = newFirst, second = newSecond, third = newThird)
}

/** x̂ → the PACKED whitened residual string of Pca.whiten, fused into one
  * codegen'd pass (r14, round-13 VERDICT #1): the HOF formulation
  * (array_join ∘ transform with the four projection columns referenced
  * inside the per-component lambda) hits the documented inlining landmine
  * — project-collapse inlines the graft_dot folds INTO the lambda and
  * interpreted HOF eval re-computes all four 64-element dots PER
  * COMPONENT (measured 3.4× wall vs the scalar projection). This kernel
  * computes each projection ONCE per row, then emits the 64 components
  * in the pinned IEEE order the oracle replays verbatim:
  * t_a = (p_a·v_aᵢ)/den_a (one multiply — p·v can exceed 2⁵³, the
  * rounding is deterministic — one divide), left-associated subtraction
  * across axes, trunc-toward-zero to BIGINT (Scala Double.toLong ==
  * Spark's cast == DuckDB trunc()::BIGINT), comma-joined via
  * Long.toString — bit- and byte-identical to the HOF twin. Axes/dens
  * are driver-fitted constants carried as codegen reference objects
  * (the IvfBucket fitted-codebook pattern). Null x̂ (zero vector) → null.
  */
case class PcaWhiten(child: Expression,
                     axes: Array[Array[Double]],
                     dens: Array[Double])
    extends UnaryExpression {
  require(axes.length == dens.length && axes.nonEmpty,
    s"graft_pca_whiten: ${axes.length} axes vs ${dens.length} denominators")

  override def dataType: DataType = org.apache.spark.sql.types.StringType
  override def prettyName: String = "graft_pca_whiten"

  override protected def nullSafeEval(input: Any): Any =
    VectorNativeImpl.pcaWhiten(input.asInstanceOf[ArrayData], axes, dens)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val aRef = ctx.addReferenceObj("pcaAxes", axes, "double[][]")
    val dRef = ctx.addReferenceObj("pcaDens", dens, "double[]")
    defineCodeGen(ctx, ev,
      c => s"graft.functions.VectorNativeImpl.pcaWhiten($c, $aRef, $dRef)")
  }

  override protected def withNewChildInternal(newChild: Expression): PcaWhiten =
    copy(child = newChild)
}

object VectorNativeImpl {
  import Codebooks._

  def norm(a: ArrayData): Double = {
    val n = a.numElements()
    var s = 0.0
    var i = 0
    while (i < n) { val x = a.getDouble(i); s += x * x; i += 1 }
    math.sqrt(s)
  }

  /** The PQ kernels index coordinates by fixed subspace offsets (i < Dim),
    * so they need the loud whole-vector guard dot() gives the plane/IVF
    * kernels: without it a short embedding throws an executor-side
    * ArrayIndexOutOfBoundsException and an over-long one silently drops
    * trailing dims while norm() folds the full length (round-4 ADVICE).
    */
  private def requireDim(n: Int, kernel: String): Unit =
    if (n != Dim)
      throw new IllegalArgumentException(
        s"graft codebook kernel: embedding has $n dims, codebook expects $Dim ($kernel)")

  /** Dot against a codebook row. A dimension mismatch is a loud error,
    * not a truncated fold: silently dropping coordinates would assign a
    * malformed embedding a plausible-but-wrong bucket/cosine, where the
    * HOF twin (aggregate ∘ zip_with) yields null (ADVICE round 2 #4).
    */
  private def dot(a: ArrayData, coefs: Array[Double]): Double = {
    val n = a.numElements()
    if (n != coefs.length)
      throw new IllegalArgumentException(
        s"graft codebook kernel: embedding has $n dims, codebook expects ${coefs.length}")
    var s = 0.0
    var i = 0
    while (i < n) { s += a.getDouble(i) * coefs(i); i += 1 }
    s
  }

  /** Fixed-point scale for the oracle-exact k-means fits: 10⁶ is exactly
    * representable and keeps every intermediate an exact integer in
    * double range (see [[FpUnit]]).
    */
  val FpScale = 1000000.0

  /** See [[FpUnit]]. Null (not a throw) for the zero vector. */
  def fpUnit(e: ArrayData): ArrayData = {
    val n = e.numElements()
    val xf = new Array[Double](n)
    var n2 = 0.0 // exact: every term and partial sum is an integer < 2^53
    var i = 0
    while (i < n) {
      val v = math.floor(e.getDouble(i) * FpScale)
      xf(i) = v
      n2 += v * v
      i += 1
    }
    if (n2 == 0) return null
    val s = math.sqrt(n2)
    val out = new Array[Double](n)
    i = 0
    while (i < n) { out(i) = math.floor(xf(i) * FpScale / s); i += 1 }
    new GenericArrayData(out)
  }

  def planeBuckets(e: ArrayData): ArrayData = {
    val out = new Array[Int](EmbBands)
    var b = 0
    while (b < EmbBands) {
      var v = 0
      var r = 0
      while (r < PlanesPerBand) {
        if (dot(e, planesArr(b * PlanesPerBand + r)) >= 0) v |= 1 << r
        r += 1
      }
      out(b) = v
      b += 1
    }
    new GenericArrayData(out)
  }

  /** All centroid cosines for one vector, in centroid order. */
  private def centroidCos(e: ArrayData, cents: Array[Array[Double]],
                          cnorms: Array[Double]): Array[Double] = {
    val nrm = norm(e)
    val cc = new Array[Double](cents.length)
    var c = 0
    while (c < cents.length) {
      cc(c) = dot(e, cents(c)) / (nrm * cnorms(c))
      c += 1
    }
    cc
  }

  def ivfBucket(e: ArrayData, cents: Array[Array[Double]], cnorms: Array[Double]): Int =
    firstMaxPos(centroidCos(e, cents, cnorms))

  /** Spark SQL's double ordering (SQLOrderingUtil.compareDoubles): IEEE
    * comparisons first — so -0.0 == 0.0, unlike java.lang.Double.compare —
    * falling back to Double.compare only for NaN (largest). This is the
    * ordering array_max/array_position use; the kernel must match it
    * exactly or bucket assignment diverges from the HOF twin on rows whose
    * cosines contain both signed zeros.
    */
  private def sqlCompare(x: Double, y: Double): Int =
    if (x < y) -1 else if (x > y) 1 else if (x == y) 0
    else java.lang.Double.compare(x, y)

  /** 1-based first position of the max, with array_max's NaN-is-largest
    * ordering, matching array_position(cc, array_max(cc)).
    */
  private def firstMaxPos(cc: Array[Double]): Int = {
    var best = 0
    var i = 1
    while (i < cc.length) {
      if (sqlCompare(cc(i), cc(best)) > 0) best = i
      i += 1
    }
    best + 1
  }

  /** 1-based PQ codes of û − ĉ_b per subspace (see [[PqCode]]): for each
    * of the PqM subspaces, the first code minimizing the left-folded
    * squared distance Σ_d (r_d − c_d)². Codebooks are arguments so the
    * data-fitted variants ride the identical kernel.
    */
  /** The subspace layout is DERIVED from the codebook (r14): M = #books,
    * sub = code width, so the 8×16×8 cosine book and the 5×16×13
    * augmented-MIPS book run the same kernel. A vector whose length is
    * not M·sub is the loud dimension error of the old requireDim.
    */
  private def requirePqDim(n: Int, m: Int, sub: Int, kernel: String): Unit =
    if (n != m * sub)
      throw new IllegalArgumentException(
        s"graft codebook kernel: embedding has $n dims, PQ codebook expects ${m * sub} ($kernel)")

  def pqCode(e: ArrayData, cents: Array[Array[Double]], cnorms: Array[Double],
             centsHat: Array[Array[Double]], pq: Array[Array[Array[Double]]]): ArrayData = {
    val pqM = pq.length
    val pqK = pq(0).length
    val pqSub = pq(0)(0).length
    requirePqDim(e.numElements(), pqM, pqSub, "graft_pq_code")
    val nrm = norm(e)
    val b = ivfBucket(e, cents, cnorms) - 1
    val ch = centsHat(b)
    val out = new Array[Int](pqM)
    var m = 0
    while (m < pqM) {
      var best = 0
      var bestD = Double.MaxValue
      var k = 0
      while (k < pqK) {
        val c = pq(m)(k)
        var d = 0
        var s = 0.0
        while (d < pqSub) {
          val i = m * pqSub + d
          val r = e.getDouble(i) / nrm - ch(i)
          val diff = r - c(d)
          s += diff * diff
          d += 1
        }
        if (sqlCompare(s, bestD) < 0) { bestD = s; best = k }
        k += 1
      }
      out(m) = best + 1
      m += 1
    }
    new GenericArrayData(out)
  }

  /** Approximate cosine q̂·(ĉ_b + Σ_m pq_m[code_m]) (see [[PqScore]]):
    * coarse term folded over all Dim coordinates first, then one
    * subspace fold per code — index order throughout.
    */
  /** See [[PqError]]: Σ_m min_k ‖r_m − pq_m[k]‖², trunc'd at fp 10⁶.
    * The per-(m, k) fold and the ascending-m accumulation run in index
    * order so the oracle's sdists/errs CTEs replay the identical IEEE
    * doubles. The COARSE fp grid is deliberate (r18): at fp 10¹² a
    * single-ulp divergence anywhere in the chain sat ~1e-5 fp units
    * from a trunc boundary and flipped the BIGINT on the driver box;
    * at 10⁶ the same divergence is ~1e-11 grid units — the card is
    * divergence-robust by construction, not by luck. */
  def pqError(e: ArrayData, cents: Array[Array[Double]], cnorms: Array[Double],
              centsHat: Array[Array[Double]],
              pq: Array[Array[Array[Double]]]): Long = {
    val pqM = pq.length
    val pqK = pq(0).length
    val pqSub = pq(0)(0).length
    requirePqDim(e.numElements(), pqM, pqSub, "graft_pq_error")
    val nrm = norm(e)
    val b = ivfBucket(e, cents, cnorms) - 1
    val ch = centsHat(b)
    var total = 0.0
    var m = 0
    while (m < pqM) {
      var best = Double.MaxValue
      var k = 0
      while (k < pqK) {
        val c = pq(m)(k)
        var s = 0.0
        var d = 0
        while (d < pqSub) {
          val i = m * pqSub + d
          val r = e.getDouble(i) / nrm - ch(i)
          val diff = r - c(d)
          s += diff * diff
          d += 1
        }
        if (s < best) best = s
        k += 1
      }
      total += best
      m += 1
    }
    (total * 1000000.0).toLong
  }

  def pqScore(eq: ArrayData, bucket: Int, codes: ArrayData,
              centsHat: Array[Array[Double]], pq: Array[Array[Array[Double]]]): Double = {
    val pqM = pq.length
    val pqSub = pq(0)(0).length
    val dim = pqM * pqSub
    requirePqDim(eq.numElements(), pqM, pqSub, "graft_pq_score")
    val nq = norm(eq)
    val ch = centsHat(bucket - 1)
    var s = 0.0
    var i = 0
    while (i < dim) { s += eq.getDouble(i) / nq * ch(i); i += 1 }
    var m = 0
    while (m < pqM) {
      val c = pq(m)(codes.getInt(m) - 1)
      var d = 0
      while (d < pqSub) {
        s += eq.getDouble(m * pqSub + d) / nq * c(d)
        d += 1
      }
      m += 1
    }
    s
  }

  def ivfProbes(e: ArrayData, probes: Int, cents: Array[Array[Double]],
                cnorms: Array[Double]): ArrayData = {
    val cc = centroidCos(e, cents, cnorms)
    val sorted = cc.clone()
    java.util.Arrays.sort(sorted) // ascending, NaN last — same total order
    val out = new Array[Int](probes)
    var p = 0
    while (p < probes) {
      val v = sorted(sorted.length - 1 - p) // p-th largest
      var i = 0
      while (i < cc.length && sqlCompare(cc(i), v) != 0) i += 1
      out(p) = i + 1
      p += 1
    }
    new GenericArrayData(out)
  }

  /** See [[PcaWhiten]]. Projections fold min-length in index order
    * (DotProduct.compute semantics, bit-identical to the graft_dot
    * columns the HOF twin referenced); a vector LONGER than the fitted
    * axes is a loud error — the HOF twin's element_at would throw
    * ANSI-OOB there too, never silently truncate.
    */
  def pcaWhiten(xh: ArrayData, axes: Array[Array[Double]],
                dens: Array[Double]): UTF8String = {
    val n = xh.numElements()
    val nAxes = axes.length
    val p = new Array[Double](nAxes)
    var a = 0
    while (a < nAxes) {
      val ax = axes(a)
      if (n > ax.length)
        throw new IllegalArgumentException(
          s"graft_pca_whiten: vector has $n dims, fitted axes have ${ax.length}")
      val d = if (n < ax.length) n else ax.length
      var s = 0.0
      var i = 0
      while (i < d) { s += xh.getDouble(i) * ax(i); i += 1 }
      p(a) = s
      a += 1
    }
    val sb = new java.lang.StringBuilder(n * 8)
    var i = 0
    while (i < n) {
      var acc = xh.getDouble(i)
      a = 0
      while (a < nAxes) {
        acc = acc - p(a) * axes(a)(i) / dens(a)
        a += 1
      }
      if (i > 0) sb.append(',')
      sb.append(acc.toLong)
      i += 1
    }
    UTF8String.fromString(sb.toString)
  }
}
