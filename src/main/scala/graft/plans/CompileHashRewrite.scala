package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Cast, Concat, Conv, Expression, Literal, Md5, Substring}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{BinaryType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.expressions.Md5Hash60

/** Optimizer rule: rewrite the PORTABLE md5-hash composition
  *
  * {{{ conv(substring(md5(concat(v, ':<seed>')), 1, 15), 16, 10) :: long }}}
  *
  * (the form any engine — and this engine's own DuckDB mirrors — spells
  * the 60-bit hash in, [[graft.functions.TextFunctions.hash64]]) into the
  * compiled [[Md5Hash60]] expression, which computes the same Long
  * straight from the digest bytes: no hex string materialized, no base-16
  * parse, no concat allocation per row. Users who write the portable
  * composition in SQL or the Column API get the compiled path for free —
  * the same compile-once principle as the reference's pre-compiled
  * regexes (`/root/reference/utils/regex.c:96-170`).
  *
  * Only the exact literal-suffix shape rewrites (seed must be a literal
  * `:<int>` tail); anything else is left untouched. Value parity is
  * spec-tested; Md5Hash60's scaladoc documents why the bytes-path Long is
  * identical.
  *
  * Installed two ways, with the SQL function names:
  *  - config-injected: `spark.sql.extensions=graft.core.GraftExtensions`
  *  - in-process: [[graft.core.GraftSession.local]] calls
  *    [[graft.functions.GraftFunctions.register]] (extraOptimizations).
  */
object CompileHashRewrite extends Rule[LogicalPlan] {

  private val SeedTail = ":(-?\\d+)".r

  private object PortableHash {
    def unapply(e: Expression): Option[(Expression, Int)] = e match {
      case c: Cast if c.dataType == LongType =>
        c.child match {
          case Conv(Substring(md5e: Md5, Literal(1, IntegerType), Literal(15, IntegerType)),
              Literal(16, IntegerType), Literal(10, IntegerType), _) =>
            md5e.child match {
              // analyzer inserts the string→binary cast under md5
              case bc: Cast if bc.dataType == BinaryType =>
                bc.child match {
                  case Concat(Seq(v, Literal(s: UTF8String, StringType)))
                      if v.dataType == StringType =>
                    s.toString match {
                      // only CANONICAL int seeds: ':007' or an
                      // Int-overflowing tail must not rewrite — Md5Hash60
                      // would re-render the suffix as ':7' (different
                      // hash) or the toInt would throw in the optimizer
                      case SeedTail(d) =>
                        d.toIntOption.filter(_.toString == d).map((v, _))
                      case _ => None
                    }
                  case _ => None
                }
              case _ => None
            }
          case _ => None
        }
      case _ => None
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case PortableHash(v, seed) => Md5Hash60(v, seed)
    }
}
