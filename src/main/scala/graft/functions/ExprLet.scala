package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{array, element_at, transform}

/** Expression-level let-binding (r20).
  *
  * Interpreted higher-order functions (transform/aggregate/zip_with
  * lambdas) re-evaluate every referenced SUBTREE once per reference
  * per element — there is no common-subexpression elimination inside
  * a lambda body. An index-based window like
  *
  *   transform(sequence(...), i => f(expensive, i))
  *
  * therefore re-runs `expensive` for EVERY element: the simhash vote
  * fold ran 64× (once per reassembled bit), winnowing's gram+hash
  * pass ran once per window position — O(length²). Binding the
  * value as the single element of a `transform(array(v), f)` makes
  * every reference inside `f` a lambda-VARIABLE read: `v` evaluates
  * exactly once, results are identical (same expressions, same null
  * flow — a null `v` reaches `f` exactly as the inline subtree
  * would).
  */
object ExprLet {

  /** `let v = value in body(v)` for Column expressions. */
  def bindOnce(value: Column)(body: Column => Column): Column =
    element_at(transform(array(value), v => body(v)), 1)
}
