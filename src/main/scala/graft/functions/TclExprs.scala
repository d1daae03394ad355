package graft.functions

import org.apache.spark.unsafe.types.UTF8String

/** Static entry points for the compat functions, invoked from
  * whole-stage-codegen via `StaticInvoke` (arguments and results in
  * Spark's internal string representation — no per-row encoder round
  * trip like a ScalaUDF pays). `propagateNull` handles SQL NULLs
  * before the call, so inputs here are non-null.
  *
  * NOTE: keep this a top-level object with no companion class so
  * scalac emits the static forwarder methods codegen calls.
  */
object TclExprs {

  private def s(u: UTF8String): String = u.toString
  private def u(s: String): UTF8String = if (s == null) null else UTF8String.fromString(s)

  def regexp(re: UTF8String, str: UTF8String): Int =
    GraftFunctions.tclRegexp(s(re), s(str))

  def glob(pattern: UTF8String, str: UTF8String): Int =
    GraftFunctions.sqliteGlob(s(pattern), s(str))

  def llength(l: UTF8String): Int = TclList.llength(s(l))

  def lrange(l: UTF8String, a: UTF8String, b: UTF8String): UTF8String =
    u(TclList.lrange(s(l), s(a), s(b)))

  // Variadic compat functions: one overload per arity (StaticInvoke
  // resolves by argument count, as for SqliteDate).

  def lindex(l: UTF8String, i: UTF8String): UTF8String =
    u(TclList.lindex(s(l), Seq(s(i).trim.toInt)))
  def lindex(l: UTF8String, i: UTF8String, j: UTF8String): UTF8String =
    u(TclList.lindex(s(l), Seq(s(i).trim.toInt, s(j).trim.toInt)))
  def lindex(l: UTF8String, i: UTF8String, j: UTF8String, k: UTF8String): UTF8String =
    u(TclList.lindex(s(l), Seq(s(i).trim.toInt, s(j).trim.toInt, s(k).trim.toInt)))

  def dict_get(d: UTF8String, k: UTF8String): UTF8String =
    u(TclList.dictGet(s(d), Seq(s(k))).orNull)
  def dict_get(d: UTF8String, k1: UTF8String, k2: UTF8String): UTF8String =
    u(TclList.dictGet(s(d), Seq(s(k1), s(k2))).orNull)
  def dict_get(d: UTF8String, k1: UTF8String, k2: UTF8String, k3: UTF8String): UTF8String =
    u(TclList.dictGet(s(d), Seq(s(k1), s(k2), s(k3))).orNull)

  def dict_exists(d: UTF8String, k: UTF8String): Int =
    if (TclList.dictExists(s(d), Seq(s(k)))) 1 else 0
  def dict_exists(d: UTF8String, k1: UTF8String, k2: UTF8String): Int =
    if (TclList.dictExists(s(d), Seq(s(k1), s(k2)))) 1 else 0
  def dict_exists(d: UTF8String, k1: UTF8String, k2: UTF8String, k3: UTF8String): Int =
    if (TclList.dictExists(s(d), Seq(s(k1), s(k2), s(k3)))) 1 else 0

  def regsub(re: UTF8String, str: UTF8String, spec: UTF8String): UTF8String =
    u(GraftFunctions.tclRegsub(all = false, s(re), s(str), s(spec)))
  def regsub(sw: UTF8String, re: UTF8String, str: UTF8String, spec: UTF8String): UTF8String =
    u(GraftFunctions.tclRegsub(all = s(sw) == "-all", s(re), s(str), s(spec)))
}
