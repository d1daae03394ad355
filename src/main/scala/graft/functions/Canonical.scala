package graft.functions

import org.apache.spark.unsafe.types.UTF8String

/** `graft_canonical(value, affinity)`: the affinity rule,
  * [[graft.sources.Affinity.canonicalize]], called from generated code.
  * A value the rule keeps comes back as the same UTF8String. */
object Canonical {
  def canonical(value: UTF8String, affinity: UTF8String): UTF8String = {
    val s = value.toString
    val c = graft.sources.Affinity.canonicalize(s, affinity.toString)
    if (c eq s) value else UTF8String.fromString(c)
  }
}
