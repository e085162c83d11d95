package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.graft.Shim

/** The `spark.sql.extensions` entry point must inject exactly the objects
  * the running-session path (`GraftSession.configure`)
  * registers — proving the two deployment wirings interchangeable.
  */
class ExtensionsSpec extends SparkSpec {

  test("GraftExtensions injects the as-of strategy and pushdown rule") {
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    val strategies = Shim.builtPlannerStrategies(ext, spark)
    val rules = Shim.builtOptimizerRules(ext, spark)
    assert(strategies.contains(graft.plans.AsOfJoinStrategy))
    assert(rules.contains(graft.plans.PushFilterThroughAsOfJoin))
    // the singletons are the very objects the experimental path registers,
    // so every AsOfJoinSpec behavior transfers to an extensions-built session
    assert(strategies.size == 1 && rules.size == 1)
  }

  test("VARIANT null semantics: absent path, type mismatch, corrupt JSON") {
    // Pins the q_variant gate's edge contract (the gate data is all
    // well-formed, so the edges live here): variant_get on an ABSENT path
    // is NULL, not an error; an extraction to a narrower type than the
    // value yields NULL under try semantics (variant_get is strict-cast —
    // use try_variant_get for data-cleaning paths); try_parse_json maps
    // corrupt input to NULL while parse_json raises.
    import org.apache.spark.sql.functions._
    val df = SparkSpec.spark.range(1).select(
      expr("variant_get(parse_json('{\"k\": 7}'), '$.missing', 'int')").as("absent"),
      expr("try_variant_get(parse_json('{\"k\": \"text\"}'), '$.k', 'int')").as("mistyped"),
      expr("try_parse_json('{broken')").as("corrupt"),
      expr("variant_get(parse_json('{\"k\": 7}'), '$.k', 'int')").as("ok"))
    val r = df.collect().head
    assert(r.isNullAt(r.fieldIndex("absent")))
    assert(r.isNullAt(r.fieldIndex("mistyped")))
    assert(r.isNullAt(r.fieldIndex("corrupt")))
    assert(r.getInt(r.fieldIndex("ok")) == 7)
    val boom = intercept[Exception] {
      SparkSpec.spark.range(1).select(expr("parse_json('{broken')")).collect()
    }
    assert(boom.getMessage != null)
  }
}
