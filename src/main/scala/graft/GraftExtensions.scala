package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, Divide, Expression, ExpressionInfo, Literal, Multiply, Sqrt}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType, IntegerType, LongType}

import graft.functions.{DistinctNGrams, HammingBits, MinHashSig, SimHashSig, VecDot}

/** SQL names for graft's native Catalyst expressions, so `spark.sql` users
  * get the same codegen'd kernels as the Column API (VecDot and the text
  * hashes are full `doGenCode` expressions — no UDF boundary, no
  * serialization, stays inside whole-stage codegen).
  *
  * The reference's analogue is class-name-by-conf strategy resolution
  * (`ml/src/main/java/org/apache/hama/ml/distance/DistanceMeasurer.java:35`,
  * `bsp.join.define.<ident>` in `core/src/main/java/org/apache/hama/bsp/
  * join/CompositeInputFormat.java:78-91`) — here the engine-extension hook
  * is Spark's own: `SparkSessionExtensions.injectFunction`, wired into
  * every [[GraftSession]] via `withExtensions(new GraftExtensions)`, or
  * onto a foreign session with [[GraftFunctions.register]].
  */
object GraftFunctions {

  private type Description =
    (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  /** Hash widths/counts parameterize generated code, so they must be
    * literal ints at the call site (same contract as the Column API's
    * plain-Int parameters) — reject anything else loudly at analysis. */
  private def intLit(fn: String, arg: String, e: Expression): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$fn: <$arg> must be a literal INT, got ${other.sql}")
  }

  private def bad(fn: String, usage: String, got: Seq[Expression]): Nothing =
    throw new IllegalArgumentException(
      s"$fn expects $usage, got ${got.length} argument(s)")

  private def d(name: String, usage: String, impl: Class[_])(
      b: PartialFunction[Seq[Expression], Expression]): Description = {
    val info = new ExpressionInfo(impl.getName, null, name, usage, "")
    (FunctionIdentifier(name), info,
      (args: Seq[Expression]) => b.applyOrElse(args, bad(name, usage, _: Seq[Expression])))
  }

  /** Everything injected, one row per SQL-callable kernel. */
  val all: Seq[Description] = Seq(
    d("vec_dot", "(array<numeric> a, array<numeric> b) -> double: sum of a[i] * b[i] " +
        "over the COMMON PREFIX of a and b (a length mismatch is not an error); " +
        "null elements count as 0; null if a or b is null", classOf[VecDot]) {
      case Seq(a, b) => VecDot(a, b)
    },
    d("vec_cosine", "(array<numeric> a, array<numeric> b) -> double: " +
        "vec_dot(a, b) / (|a| * |b|), the dot over the COMMON PREFIX and each norm " +
        "over its whole array; null elements count as 0; null if a or b is null; " +
        "a zero-norm side is a division by zero: an error under ANSI mode, else null",
        classOf[VecDot]) {
      // composed from the same codegen'd VecDot kernel as the Column API
      // (raw catalyst tree — a Column-DSL composition would splice an
      // unresolvable ColumnNode into the analyzer's expression walk)
      case Seq(a, b) =>
        Divide(VecDot(a, b), Multiply(Sqrt(VecDot(a, a)), Sqrt(VecDot(b, b))))
    },
    d("minhash_sig", "(array<string> tokens, int literal ngram_width >= 1, " +
        "int literal num_hashes) -> array<string>: num_hashes hex minima over the " +
        "space-joined ngram_width-grams; num_hashes a positive multiple of 4; null " +
        "tokens are skipped; null when fewer than ngram_width tokens remain",
        classOf[MinHashSig]) {
      case Seq(t, w, k) =>
        MinHashSig(t, intLit("minhash_sig", "ngram_width", w),
          intLit("minhash_sig", "num_hashes", k))
    },
    d("simhash_sig", "(array<string> tokens) -> string: 64-char '0'/'1' SimHash; " +
        "null tokens are skipped; null when no tokens remain", classOf[SimHashSig]) {
      case Seq(t) => SimHashSig(t)
    },
    d("distinct_ngrams", "(array<string> tokens, int literal ngram_width >= 1) -> " +
        "array<string>: distinct space-joined ngram_width-grams in first-occurrence " +
        "order; null tokens are skipped; empty when fewer than ngram_width tokens remain",
        classOf[DistinctNGrams]) {
      case Seq(t, w) => DistinctNGrams(t, intLit("distinct_ngrams", "ngram_width", w))
    },
    d("hamming_bits", "(string bits_a, string bits_b) -> bigint: count of differing " +
        "byte positions plus the length difference; meant for equal-length '0'/'1' " +
        "strings; null if either is null", classOf[HammingBits]) {
      case Seq(a, b) => HammingBits(a, b)
    },
    d("morton2", "(bigint x, bigint y, int literal bits in [1, 31]) -> bigint: the " +
        "low `bits` bits of x on the even and of y on the odd bit positions; higher " +
        "bits are ignored; null if x or y is null",
        classOf[org.apache.spark.sql.catalyst.expressions.ShiftLeft]) {
      // the Z-order interleave behind MergeTable.optimizeZorder, as a
      // pure shift/mask tree (stays in whole-stage codegen); semantics
      // identical to Zorder.zvalue / Zorder.interleave — x on even bits
      case Seq(x, y, b) =>
        import org.apache.spark.sql.catalyst.expressions.{BitwiseAnd, BitwiseOr, ShiftLeft, ShiftRight}
        val bits = intLit("morton2", "bits", b)
        if (bits < 1 || bits > 31) throw new IllegalArgumentException(
          s"morton2: bits must be in [1,31], got $bits")
        val xl = Cast(x, LongType); val yl = Cast(y, LongType)
        (0 until bits).map { i =>
          BitwiseOr(
            ShiftLeft(BitwiseAnd(ShiftRight(xl, Literal(i)), Literal(1L)), Literal(2 * i)),
            ShiftLeft(BitwiseAnd(ShiftRight(yl, Literal(i)), Literal(1L)), Literal(2 * i + 1)))
        }.reduce(BitwiseOr(_, _))
    })

  /** Post-hoc registration on an already-built session (idempotent —
    * re-registering overwrites with the identical builder; the optimizer
    * rule goes through `experimental.extraOptimizations`, the post-hoc
    * analogue of injectOptimizerRule). */
  def register(spark: SparkSession): Unit = {
    all.foreach { case (id, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    }
    if (!spark.experimental.extraOptimizations.contains(VecDotCastElision))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ VecDotCastElision
  }
}

/** Optimizer rule: elide `CAST(array<numeric> AS array<double>)` directly
  * under [[VecDot]]. The kernel reads float/double/int/long elements
  * natively and converts AT THE MULTIPLY — exactly where the cast would
  * have converted — so the rewrite is bit-identical while removing a
  * whole materialized per-row array copy from the hot loop. The practical
  * win: embeddings are stored float; `vecDot(v.cast("array<double>"), …)`
  * written for type tidiness silently doubles the scan's allocation rate
  * at 100 TB, and this rule makes the tidy spelling free. */
object VecDotCastElision extends Rule[LogicalPlan] {
  private def nativeArray(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
    case ArrayType(FloatType | DoubleType | IntegerType | LongType, _) => true
    case _ => false
  }
  private def strip(e: Expression): Expression = e match {
    case c: Cast if c.dataType.isInstanceOf[ArrayType] &&
        c.dataType.asInstanceOf[ArrayType].elementType == DoubleType &&
        nativeArray(c.child.dataType) => c.child
    case other => other
  }
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    case d @ VecDot(l, r) if (strip(l) ne l) || (strip(r) ne r) =>
      d.copy(left = strip(l), right = strip(r))
  }
}

/** `spark.sql.extensions`-compatible injector: build-time hook for sessions
  * graft does not construct (`SparkSession.builder.withExtensions(new
  * GraftExtensions)` or `--conf spark.sql.extensions=graft.GraftExtensions`). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.all.foreach(ext.injectFunction)
    ext.injectOptimizerRule(_ => VecDotCastElision)
  }
}
