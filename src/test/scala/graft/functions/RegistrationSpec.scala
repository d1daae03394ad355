package graft.functions

import org.apache.spark.sql.SparkSession

import graft.SparkSpec

/** `GraftFunctions.register` is the one place that installs graft
  * functions and rules: every name resolves after it and repeated
  * calls install nothing twice (SketchOpsSpec covers a session the
  * factory never saw). */
class RegistrationSpec extends SparkSpec {
  import RegistrationSpec._

  test("every graft name resolves and each rule is installed once after two registers") {
    GraftFunctions.register(spark)
    GraftFunctions.register(spark)
    assert(unresolved(spark) === Nil)
    assert(installCounts(spark) === Seq(1, 1, 1, 1))
  }
}

object RegistrationSpec {
  private val names = Seq(
    "regexp", "glob", "llength", "lrange", "sqlite_version",
    "lindex", "dict_get", "dict_exists", "regsub",
    "sqlite_cast_integer", "sqlite_cast_real", "sqlite_cast_text",
    "sqlite_cast_numeric",
    "graft_md5longs", "graft_md5min8", "graft_rollhash_min", "graft_dot",
    "graft_kmr_emit", "graft_canonical", "graft_unique_key", "graft_affinity_value",
    "graft_fold_accents")

  /** The graft function names the session cannot resolve. */
  def unresolved(s: SparkSession): Seq[String] =
    names.filterNot(s.catalog.functionExists)

  /** How often each optimizer rule, then `GlobalRankStrategy`, is
    * installed on the session. */
  def installCounts(s: SparkSession): Seq[Int] =
    Seq(graft.plans.AffinityOrdering, graft.plans.GlobalRankRewrite,
      graft.plans.SortKeyMaterialization)
      .map(r => s.experimental.extraOptimizations.count(_ == r)) :+
      s.experimental.extraStrategies.count(_ == graft.plans.GlobalRankStrategy)
}
