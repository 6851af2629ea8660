package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge.{toColumn => column, toExpression => expression}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Dense-vector similarity over `ArrayType(FloatType)` embedding columns
  * (testdata `embeddings.parquet`: `embedding list<float>[64]`).
  *
  * [[CosineSimilarity]] / [[DotProduct]] are native Catalyst expressions
  * with whole-stage codegen (`doGenCode`) — the hot loop of brute-force
  * similarity search compiles into the generated stage with zero boxing,
  * which is what makes the O(n·m·d) scan viable at scale. A higher-order
  * `zip_with`/`aggregate` formulation is ~8× slower (per-element lambda
  * invocation) and kept only as documentation.
  */
object Vectors {

  private val floatArray = ArrayType(FloatType)

  /** Cosine similarity of two float arrays; null if either norm is 0 or
    * lengths differ. Accumulates in double, index order (matches a
    * straightforward loop in any engine). */
  def cosine(a: Column, b: Column): Column =
    column(CosineSimilarity(expression(a.cast(floatArray)), expression(b.cast(floatArray))))

  /** Dot product of two float arrays (double accumulator). */
  def dot(a: Column, b: Column): Column =
    column(DotProduct(expression(a.cast(floatArray)), expression(b.cast(floatArray))))

  /** Euclidean (L2) distance of two float arrays — the other standard ANN
    * metric (IVF/LSH over L2 instead of cosine); null on length mismatch.
    * Fused single pass, codegen like its siblings. */
  def l2Distance(a: Column, b: Column): Column =
    column(EuclideanDistance(expression(a.cast(floatArray)), expression(b.cast(floatArray))))

  /** Higher-order-function formulation of dot product — kept as the
    * "compose built-ins" baseline the custom expression is benchmarked
    * against (SURVEY §2.5 Vector row). */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)
}

/** dot(a,b) over array<float> with codegen; null on length mismatch.
  * Inputs must already be ArrayType(FloatType) — the [[Vectors]] helpers
  * insert the cast. */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]; val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) null
    else {
      var s = 0.0; var i = 0
      while (i < n) { s += x.getFloat(i).toDouble * y.getFloat(i).toDouble; i += 1 }
      s
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n"); val s = ctx.freshName("s")
      s"""
         |final int $n = $a.numElements();
         |if ($n != $b.numElements()) { ${ev.isNull} = true; } else {
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $s += ((double) $a.getFloat($i)) * ((double) $b.getFloat($i));
         |  }
         |  ${ev.value} = $s;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** sqrt(sum((a_i-b_i)^2)) over array<float> with codegen; null on length
  * mismatch. Double accumulator in index order — bit-matches a plain loop
  * (and DuckDB's list_distance) like the other kernels. */
case class EuclideanDistance(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]; val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) null
    else {
      var s = 0.0; var i = 0
      while (i < n) {
        val d = x.getFloat(i).toDouble - y.getFloat(i).toDouble
        s += d * d; i += 1
      }
      math.sqrt(s)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val s = ctx.freshName("s"); val d = ctx.freshName("d")
      s"""
         |final int $n = $a.numElements();
         |if ($n != $b.numElements()) { ${ev.isNull} = true; } else {
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    final double $d = ((double) $a.getFloat($i)) - ((double) $b.getFloat($i));
         |    $s += $d * $d;
         |  }
         |  ${ev.value} = java.lang.Math.sqrt($s);
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** cosine(a,b) over array<float> with codegen; null on length mismatch or
  * zero norm. Single fused pass (dot + both norms). */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]; val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) null
    else {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < n) {
        val xi = x.getFloat(i).toDouble; val yi = y.getFloat(i).toDouble
        dot += xi * yi; na += xi * xi; nb += yi * yi; i += 1
      }
      if (na == 0.0 || nb == 0.0) null
      else dot / (math.sqrt(na) * math.sqrt(nb))
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val dot = ctx.freshName("dot"); val na = ctx.freshName("na"); val nb = ctx.freshName("nb")
      val xi = ctx.freshName("xi"); val yi = ctx.freshName("yi")
      s"""
         |final int $n = $a.numElements();
         |if ($n != $b.numElements()) { ${ev.isNull} = true; } else {
         |  double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    final double $xi = (double) $a.getFloat($i);
         |    final double $yi = (double) $b.getFloat($i);
         |    $dot += $xi * $yi; $na += $xi * $xi; $nb += $yi * $yi;
         |  }
         |  if ($na == 0.0 || $nb == 0.0) { ${ev.isNull} = true; }
         |  else { ${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb)); }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
