package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression

/** Marks an expensive struct-returning kernel that Catalyst must not
  * duplicate. The kernels are pure, but declaring them
  * non-deterministic is Spark's documented idiom for expensive
  * functions (`UserDefinedFunction.asNondeterministic`): it stops
  * CollapseProject from inlining the producer into every
  * `struct.field` reference of the consuming projection, and stops
  * PushPredicateThroughNonJoin from substituting it into a filter
  * above. Without it a projection that reads k fields of the kernel's
  * struct, plus a filter over them, runs the kernel once per reference
  * (measured: 8.9 Gopher-coverage calls per document under
  * `gopherRepetition(df).filter(keep)`, 2 C4 calls under `c4Clean`).
  * The expression still compiles into whole-stage codegen; what it
  * gives up is moving predicates on OTHER columns below it. */
trait EvalOncePerRow extends Expression {
  override lazy val deterministic: Boolean = false
}
