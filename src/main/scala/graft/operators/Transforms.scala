package graft.operators

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Shim
import org.apache.spark.sql.types._

import graft.config.TransformRule
import graft.expressions.BatchTime
import graft.functions.Conversions

/** T1–T12: the transform select-list compiler — the reference's per-row
  * dict-rebuilding loop (`/root/reference/src/transform.py:157-196`)
  * re-expressed as a single `select` of codegen'd columns.
  *
  * `src` resolution order (parity with `/root/reference/src/transform.py:166-186`):
  *   1. `$$BATCH_TIME` → the plan-time value frozen at compile (T1) — constant
  *      across every batch of a run, never `current_timestamp()`. It is bound
  *      as a [[graft.expressions.BatchTime]], not a literal, so a scheduled
  *      run with a new batch time reuses the previous run's generated code;
  *   2. `$literal` → `lit(remainder)` (T2);
  *   3. dotted keypath into the merged row: a top-level envelope column, or a
  *      path into the `payload` struct (T3). Unresolvable paths fail at plan
  *      build (the reference's KeyError) unless `allowUndefined` → NULL.
  *
  * Output column set and order is exactly the rule list (T4).
  */
object Transforms {

  final case class CompileError(msg: String) extends RuntimeException(msg)

  /** Resolve a dotted path against the envelope frame: top-level column first,
    * then into the payload struct. Returns None if the path cannot resolve.
    */
  private def resolvePath(schema: StructType, payloadField: String, path: List[String]): Option[Column] = {
    def walk(dt: DataType, segs: List[String], c: Column): Option[Column] = segs match {
      case Nil => Some(c)
      case p :: rest => dt match {
        case st: StructType => st.fields.find(_.name == p)
          .flatMap(f => walk(f.dataType, rest, c.getField(p)))
        case _ => None
      }
    }
    path match {
      case Nil => None
      case head :: rest =>
        schema.fields.find(_.name == head) match {
          case Some(f) => walk(f.dataType, rest, col(head))
          case None =>
            schema.fields.find(_.name == payloadField).flatMap { pf =>
              walk(pf.dataType, path, col(payloadField))
            }
        }
    }
  }

  def compileRule(
      rule: TransformRule,
      schema: StructType,
      batchTime: Timestamp,
      payloadField: String = "payload",
      sep: String = "."): Column = {
    val batchTimeCol = Shim.column(BatchTime(DateTimeUtils.fromJavaTimestamp(batchTime)))
    val srcCol: Column = rule.src match {
      case "$$BATCH_TIME" => batchTimeCol
      case s if s.startsWith("$") => lit(s.drop(1))
      case s =>
        resolvePath(schema, payloadField, PayloadOps.splitPath(s, sep)) match {
          case Some(c) => c
          case None if rule.allowUndefined => lit(null)
          case None => throw CompileError(s"transform src path not found: '$s' (dst ${rule.dst})")
        }
    }
    Conversions.resolve(rule.fun, Some(batchTimeCol))(srcCol).as(rule.dst)
  }

  /** Compile the full rule list against an envelope frame. */
  def apply(
      df: DataFrame,
      rules: Seq[TransformRule],
      batchTime: Timestamp,
      payloadField: String = "payload",
      sep: String = "."): DataFrame = {
    val cols = rules.map(r => compileRule(r, df.schema, batchTime, payloadField, sep))
    df.select(cols: _*)
  }
}
