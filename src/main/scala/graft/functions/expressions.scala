package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for graft's hot paths (SURVEY §2.G).
  *
  * Each `doGenCode` emits a single static call into [[HashImpl]], so the
  * kernels run inside whole-stage codegen (no UDF serialization, no
  * boxing per element, no interpreted fallback). Preference order per
  * the build brief: compose built-ins < custom Expression < custom
  * physical operator; these are the cases where built-ins can't express
  * the kernel (64-bit rolling hash, minhash signatures, strict-order
  * float folds).
  */
object expressions {

  /** 64-bit polynomial rolling fingerprint of a string. */
  case class Fingerprint64(child: Expression) extends UnaryExpression {
    override def dataType: DataType = LongType
    override protected def nullSafeEval(v: Any): Any =
      HashImpl.fingerprint64(v.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.HashImpl.fingerprint64($c)")
    override protected def withNewChildInternal(c: Expression): Fingerprint64 = copy(c)
  }

  /** SimHash-64 of an array of tokens. */
  case class SimHash64(child: Expression) extends UnaryExpression {
    override def dataType: DataType = LongType
    override protected def nullSafeEval(v: Any): Any =
      HashImpl.simhash64(v.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.HashImpl.simhash64($c)")
    override protected def withNewChildInternal(c: Expression): SimHash64 = copy(c)
  }

  /** 128-permutation MinHash signature of a shingle array. */
  case class MinHashSigs(child: Expression) extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override protected def nullSafeEval(v: Any): Any =
      HashImpl.minhash(v.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.HashImpl.minhash($c)")
    override protected def withNewChildInternal(c: Expression): MinHashSigs = copy(c)
  }

  /** Cosine similarity of two float vectors (strict-order double fold —
    * bit-identical to the DuckDB list_reduce oracle, SURVEY §5).
    */
  case class CosineSim(left: Expression, right: Expression) extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override protected def nullSafeEval(a: Any, b: Any): Any =
      HashImpl.cosineFF(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) => s"graft.functions.HashImpl.cosineFF($a, $b)")
    override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineSim =
      copy(l, r)
  }

  /** Dot product of two float vectors, double accumulation. */
  case class DotProduct(left: Expression, right: Expression) extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override protected def nullSafeEval(a: Any, b: Any): Any =
      HashImpl.dotFF(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) => s"graft.functions.HashImpl.dotFF($a, $b)")
    override protected def withNewChildrenInternal(l: Expression, r: Expression): DotProduct =
      copy(l, r)
  }

  /** L2 norm of a float vector. */
  case class L2Norm(child: Expression) extends UnaryExpression {
    override def dataType: DataType = DoubleType
    override protected def nullSafeEval(v: Any): Any =
      HashImpl.l2normF(v.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.HashImpl.l2normF($c)")
    override protected def withNewChildInternal(c: Expression): L2Norm = copy(c)
  }

  /** Signed-random-projection LSH bucket id of a float vector. */
  case class SrpSig(child: Expression, nBits: Int) extends UnaryExpression {
    override def dataType: DataType = LongType
    override protected def nullSafeEval(v: Any): Any =
      HashImpl.srpSig(v.asInstanceOf[ArrayData], nBits)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.HashImpl.srpSig($c, $nBits)")
    override protected def withNewChildInternal(c: Expression): SrpSig = copy(child = c)
  }

  /** Seeded SRP signature — independent hyperplane family per seed, for
    * multi-table LSH wider than one 64-bit signature.
    */
  case class SrpSigSeeded(child: Expression, nBits: Int, seed: Long)
      extends UnaryExpression {
    override def dataType: DataType = LongType
    override protected def nullSafeEval(v: Any): Any =
      HashImpl.srpSigSeeded(v.asInstanceOf[ArrayData], nBits, seed)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev,
        c => s"graft.functions.HashImpl.srpSigSeeded($c, $nBits, ${seed}L)")
    override protected def withNewChildInternal(c: Expression): SrpSigSeeded =
      copy(child = c)
  }

  /** Symmetric int8 quantization of a float vector at a fixed scale. */
  case class QuantizeI8(child: Expression, scale: Float) extends UnaryExpression {
    override def dataType: DataType = ArrayType(ByteType, containsNull = false)
    override protected def nullSafeEval(v: Any): Any =
      HashImpl.quantizeI8(v.asInstanceOf[ArrayData], scale)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.HashImpl.quantizeI8($c, ${scale}f)")
    override protected def withNewChildInternal(c: Expression): QuantizeI8 = copy(child = c)
  }

  /** Inverse of QuantizeI8. */
  case class DequantizeI8(child: Expression, scale: Float) extends UnaryExpression {
    override def dataType: DataType = ArrayType(FloatType, containsNull = false)
    override protected def nullSafeEval(v: Any): Any =
      HashImpl.dequantizeI8(v.asInstanceOf[ArrayData], scale)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.HashImpl.dequantizeI8($c, ${scale}f)")
    override protected def withNewChildInternal(c: Expression): DequantizeI8 = copy(child = c)
  }

  /** 0-based index of the L2-nearest centroid in an array-of-vectors
    * codebook (ties → lowest index). The quantizer-encode kernel: a
    * map-side argmin against a literal codebook, replacing the
    * crossJoin + window assignment shape flagged in round 8.
    */
  case class ArgminL2(left: Expression, right: Expression) extends BinaryExpression {
    override def dataType: DataType = IntegerType
    override protected def nullSafeEval(v: Any, cs: Any): Any =
      HashImpl.argminL2(v.asInstanceOf[ArrayData], cs.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (v, cs) => s"graft.functions.HashImpl.argminL2($v, $cs)")
    override protected def withNewChildrenInternal(l: Expression, r: Expression): ArgminL2 =
      copy(l, r)
  }

  /** 0-based index of the cosine-nearest centroid (ties and all-NaN →
    * lowest index). The IVF list-assignment twin of [[ArgminL2]].
    */
  case class ArgmaxCos(left: Expression, right: Expression) extends BinaryExpression {
    override def dataType: DataType = IntegerType
    override protected def nullSafeEval(v: Any, cs: Any): Any =
      HashImpl.argmaxCos(v.asInstanceOf[ArrayData], cs.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (v, cs) => s"graft.functions.HashImpl.argmaxCos($v, $cs)")
    override protected def withNewChildrenInternal(l: Expression, r: Expression): ArgmaxCos =
      copy(l, r)
  }

  /** The k cosine-nearest centroid indexes (0-based, cosine desc then
    * index asc) — the IVF probe-selection kernel: a map-side top-k
    * against a literal codebook, replacing the crossJoin + window
    * probe-ranking shape where no batch window is available (streaming
    * arrivals) or wanted (per-row probe selection at ingest).
    */
  case class TopCosIds(left: Expression, right: Expression, k: Int)
      extends BinaryExpression {
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    override protected def nullSafeEval(v: Any, cs: Any): Any =
      HashImpl.topCosIds(v.asInstanceOf[ArrayData], cs.asInstanceOf[ArrayData], k)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (v, cs) => s"graft.functions.HashImpl.topCosIds($v, $cs, $k)")
    override protected def withNewChildrenInternal(l: Expression, r: Expression): TopCosIds =
      copy(l, r)
  }

  /** Cosine over int8-quantized vectors (integer accumulation). */
  case class CosineSimI8(left: Expression, right: Expression) extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override protected def nullSafeEval(a: Any, b: Any): Any =
      HashImpl.cosineII(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) => s"graft.functions.HashImpl.cosineII($a, $b)")
    override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineSimI8 =
      copy(l, r)
  }

  /** Lowercased [a-z0-9]+ word tokens of a string. */
  case class TokenizeWords(child: Expression) extends UnaryExpression {
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override protected def nullSafeEval(v: Any): Any =
      HashImpl.tokenize(v.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.HashImpl.tokenize($c)")
    override protected def withNewChildInternal(c: Expression): TokenizeWords = copy(c)
  }

  /** Distinct 3-gram word shingles of a token array. */
  case class Shingles3(child: Expression) extends UnaryExpression {
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override protected def nullSafeEval(v: Any): Any =
      HashImpl.shingles3(v.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.HashImpl.shingles3($c)")
    override protected def withNewChildInternal(c: Expression): Shingles3 = copy(c)
  }

  case class Bigrams2(child: Expression) extends UnaryExpression {
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override protected def nullSafeEval(v: Any): Any =
      HashImpl.bigrams(v.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.HashImpl.bigrams($c)")
    override protected def withNewChildInternal(c: Expression): Bigrams2 = copy(c)
  }

  /** Distinct space-joined word k-grams of a token array. */
  case class NgramsDistinct(child: Expression, k: Int) extends UnaryExpression {
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override protected def nullSafeEval(v: Any): Any =
      HashImpl.ngramsDistinct(v.asInstanceOf[ArrayData], k)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.HashImpl.ngramsDistinct($c, $k)")
    override protected def withNewChildInternal(c: Expression): NgramsDistinct =
      copy(child = c)
  }

  case class CharGrams4(child: Expression) extends UnaryExpression {
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override protected def nullSafeEval(v: Any): Any =
      HashImpl.chargrams4(v.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.HashImpl.chargrams4($c)")
    override protected def withNewChildInternal(c: Expression): CharGrams4 = copy(c)
  }

  // ---- Column API -------------------------------------------------------

  private def toCol(e: Expression): Column = org.apache.spark.sql.GraftColumnShim.column(e)
  private def ex(c: Column): Expression = org.apache.spark.sql.GraftColumnShim.expression(c)

  def fingerprint64(c: Column): Column = toCol(Fingerprint64(ex(c)))
  def tokenize_words(c: Column): Column = toCol(TokenizeWords(ex(c)))
  def srp_sig(c: Column, nBits: Int): Column = toCol(SrpSig(ex(c), nBits))
  def srp_sig_seeded(c: Column, nBits: Int, seed: Long): Column =
    toCol(SrpSigSeeded(ex(c), nBits, seed))

  /** The ceil(nTables·bandBits/64) seeded 64-bit SRP signatures that a
    * multi-table band family carves from — materialize this ONCE as a
    * projected column, then read bands with [[srpBandExpr]]. The
    * bit-layout contract (table t = bits [B·(t mod 64/B)…) of sig
    * t div (64/B)) lives only here and in srpBandExpr.
    */
  def srpSigsArray(vec: Column, nTables: Int, bandBits: Int): Column = {
    val perSig = 64 / bandBits
    val nSigs = (nTables + perSig - 1) / perSig
    org.apache.spark.sql.functions.array(
      (0 until nSigs).map(k => srp_sig_seeded(vec, 64, k.toLong)): _*)
  }

  /** SQL snippet: the bandBits-wide band value of table `t` (any SQL
    * int expression) carved from the signature-array column `sigsCol`.
    */
  def srpBandExpr(sigsCol: String, t: String, bandBits: Int): String = {
    val perSig = 64 / bandBits
    s"CAST(shiftrightunsigned($sigsCol[($t) div $perSig], " +
      s"$bandBits * (($t) % $perSig)) & ${(1 << bandBits) - 1} AS INT)"
  }

  /** SQL snippet: the full per-table bucket-id list
    * (`t·2^bandBits + band(t)` for every table) over the signature
    * array column — the one encoding every SRP band join keys on.
    */
  def srpBandBucketsExpr(sigsCol: String, nTables: Int, bandBits: Int): String =
    s"""transform(sequence(0, ${nTables - 1}), t ->
       |  t * ${1 << bandBits} + ${srpBandExpr(sigsCol, "t", bandBits)})""".stripMargin
  def shingles3(c: Column): Column = toCol(Shingles3(ex(c)))
  def bigrams2(c: Column): Column = toCol(Bigrams2(ex(c)))
  def ngrams_distinct(c: Column, k: Int): Column = toCol(NgramsDistinct(ex(c), k))
  def chargrams4(c: Column): Column = toCol(CharGrams4(ex(c)))
  def simhash64(c: Column): Column = toCol(SimHash64(ex(c)))
  def minhash_sigs(c: Column): Column = toCol(MinHashSigs(ex(c)))
  def cosine_sim(a: Column, b: Column): Column = toCol(CosineSim(ex(a), ex(b)))
  def dot_product(a: Column, b: Column): Column = toCol(DotProduct(ex(a), ex(b)))
  def l2norm(c: Column): Column = toCol(L2Norm(ex(c)))
  def quantize_i8(c: Column, scale: Float): Column = toCol(QuantizeI8(ex(c), scale))
  def dequantize_i8(c: Column, scale: Float): Column = toCol(DequantizeI8(ex(c), scale))
  def cosine_sim_i8(a: Column, b: Column): Column = toCol(CosineSimI8(ex(a), ex(b)))
  def argmin_l2(v: Column, centroids: Column): Column = toCol(ArgminL2(ex(v), ex(centroids)))
  def argmax_cos(v: Column, centroids: Column): Column = toCol(ArgmaxCos(ex(v), ex(centroids)))
  def top_cos_ids(v: Column, centroids: Column, k: Int): Column =
    toCol(TopCosIds(ex(v), ex(centroids), k))
}
