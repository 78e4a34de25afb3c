package graft.plans

import com.fasterxml.jackson.core.{JsonFactory, JsonProcessingException}
import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BooleanType, DataType}
import org.apache.spark.unsafe.types.UTF8String

/** `JsonWhole(s)`: true when `s` is exactly one JSON value, optionally
  * followed by whitespace. `from_json` stops after the first value and
  * ignores what follows, so a body like `{"a":1} trailing` parses as a
  * clean `{a: 1}`; this is the check that the parse consumed the whole
  * body. It tokenizes the string once with Jackson, the parser
  * `from_json` itself uses.
  */
case class JsonWhole(child: Expression) extends UnaryExpression {

  override def dataType: DataType = BooleanType
  override def prettyName: String = "json_whole"

  override def nullSafeEval(s: Any): Any =
    JsonExpressions.whole(s.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s => s"graft.plans.JsonExpressions.whole($s)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object JsonExpressions {
  private val factory = new JsonFactory()

  def whole(s: UTF8String): Boolean = {
    val p = factory.createParser(s.getBytes)
    try p.nextToken() != null && { p.skipChildren(); p.nextToken() == null }
    catch { case _: JsonProcessingException => false }
    finally p.close()
  }

  /** Is string column `s` exactly one JSON value? */
  def jsonWhole(s: Column): Column =
    GraftColumnBridge.column(JsonWhole(GraftColumnBridge.expression(s)))
}
