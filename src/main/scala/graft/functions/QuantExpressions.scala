package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** One-pass int8 quantization: array<double> -> struct<scale: double,
  * q: array<int>>. Semantics are EXACTLY the higher-order composition in
  * [[graft.operators.Quantization]] (maxabs, scale = 127/maxabs or 0 for
  * a zero/empty vector, q_i = floor(x_i*scale + 0.5)) — the arithmetic
  * steps are identical IEEE doubles, property-pinned against the HOF twin
  * — but computed in two tight primitive loops instead of three lambda
  * materializations (transform/array_max/transform each build an
  * intermediate array per row). Null elements are not supported
  * (embedding columns; enforced upstream by schema).
  */
case class Int8Quantize(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("scale", DoubleType, nullable = false),
    StructField("q", ArrayType(IntegerType, containsNull = false),
      nullable = false)))
  override def prettyName: String = "int8_quantize"

  override def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    val n = a.numElements()
    var maxabs = 0.0
    var i = 0
    while (i < n) {
      val x = math.abs(a.getDouble(i))
      // NaN parity with the HOF twin: array_max treats NaN as largest,
      // so a NaN element must poison maxabs (-> scale NaN, codes 0) here
      // too, not be skipped by the > comparison
      if (x > maxabs || java.lang.Double.isNaN(x)) maxabs = x
      i += 1
    }
    val scale = if (maxabs == 0.0) 0.0 else 127.0 / maxabs
    val q = new Array[Int](n)
    i = 0
    while (i < n) {
      q(i) = math.floor(a.getDouble(i) * scale + 0.5).toInt
      i += 1
    }
    org.apache.spark.sql.catalyst.InternalRow(scale,
      new GenericArrayData(q))
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n")
      val maxabs = ctx.freshName("maxabs")
      val scale = ctx.freshName("scale")
      val q = ctx.freshName("q")
      val i = ctx.freshName("i")
      val x = ctx.freshName("x")
      val rowClass = classOf[org.apache.spark.sql.catalyst.expressions.GenericInternalRow].getName
      val arrClass = classOf[GenericArrayData].getName
      s"""
         |int $n = $a.numElements();
         |double $maxabs = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $x = Math.abs($a.getDouble($i));
         |  if ($x > $maxabs || Double.isNaN($x)) $maxabs = $x;
         |}
         |double $scale = ($maxabs == 0.0) ? 0.0 : 127.0 / $maxabs;
         |int[] $q = new int[$n];
         |for (int $i = 0; $i < $n; $i++) {
         |  $q[$i] = (int) Math.floor($a.getDouble($i) * $scale + 0.5);
         |}
         |${ev.value} = new $rowClass(new Object[] {
         |  $scale, new $arrClass($q) });
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
