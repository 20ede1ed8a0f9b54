package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** Session-extension wiring: registers the engine's custom Catalyst
  * expressions as SQL functions, so SQL users get them too:
  *
  * {{{
  * // session builder: .withExtensions(new GraftExtensions)
  * // or: spark.sql.extensions=graft.functions.GraftExtensions
  * spark.sql("SELECT graft_dot(cast(a as array<double>), cast(b as array<double>))")
  * }}}
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.builders.foreach { case (name, builder) =>
      ext.injectFunction((
        new FunctionIdentifier(name),
        new ExpressionInfo(classOf[DotProduct].getName, name),
        builder))
    }
    // composite pipeline operators as table-valued functions
    GraftTableFunctions.builders.foreach { case (name, builder) =>
      ext.injectTableFunction((
        new FunctionIdentifier(name),
        new ExpressionInfo(classOf[DotProduct].getName, name),
        builder))
    }
    // the native as-of join operator plans through this strategy
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    // graft_cosine lowers to the codegen DotProduct kernels here
    ext.injectOptimizerRule(_ => CosineExpand)
  }
}

object GraftExtensions {

  private type Exprs = Seq[org.apache.spark.sql.catalyst.expressions.Expression]
  private type Builder =
    Exprs => org.apache.spark.sql.catalyst.expressions.Expression

  private val dotBuilder: Builder = { exprs =>
    require(exprs.length == 2, "graft_dot(arrayA, arrayB)")
    // cast so SQL callers with int/float arrays get converted values,
    // not ArrayData misreads
    DotProduct(VectorFunctions.castToDoubleArray(exprs.head),
      VectorFunctions.castToDoubleArray(exprs(1)))
  }

  private val shingleBuilder: Builder = { exprs =>
    require(exprs.length == 2, "graft_shingle_hash60(text, n)")
    val n = exprs(1) match {
      case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
      case other => throw new IllegalArgumentException(
        s"shingle width must be an int literal, got $other")
    }
    ShingleHash60(exprs.head, n)
  }

  private val simhashBuilder: Builder = { exprs =>
    require(exprs.length == 1, "graft_simhash16(text)")
    SimHash16(exprs.head)
  }

  private val rollingBuilder: Builder = { exprs =>
    require(exprs.length == 1, "graft_rolling_hash(text)")
    RollingHash(exprs.head)
  }

  private val cosineBuilder: Builder = { exprs =>
    require(exprs.length == 2, "graft_cosine(arrayA, arrayB)")
    CosineMarker(VectorFunctions.castToDoubleArray(exprs.head),
      VectorFunctions.castToDoubleArray(exprs(1)))
  }

  /** All SQL-exposed engine functions. */
  private val builders: Seq[(String, Builder)] = Seq(
    "graft_dot" -> dotBuilder,
    "graft_shingle_hash60" -> shingleBuilder,
    "graft_simhash16" -> simhashBuilder,
    "graft_rolling_hash" -> rollingBuilder,
    "graft_cosine" -> cosineBuilder)

  /** Register on an already-running session (tests, notebooks): the
    * function surface plus the marker-lowering optimizer rule (idempotent
    * — extraOptimizations is only appended on first call).
    */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    builders.foreach { case (name, builder) =>
      org.apache.spark.sql.graft.ColumnBridge
        .registerTempFunction(spark, name, builder)
    }
    GraftTableFunctions.builders.foreach { case (name, builder) =>
      org.apache.spark.sql.graft.ColumnBridge
        .registerTempTableFunction(spark, name, builder)
    }
    if (!spark.experimental.extraOptimizations.contains(CosineExpand))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ CosineExpand
  }
}
