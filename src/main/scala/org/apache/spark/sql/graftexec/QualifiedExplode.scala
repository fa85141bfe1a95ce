package org.apache.spark.sql.graftexec

import org.apache.spark.sql.{DataFrame, classic}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.Explode
import org.apache.spark.sql.catalyst.plans.logical.Generate

/** `LATERAL VIEW explode(q.array) q AS name` on a DataFrame: every row of
  * `df` repeated once per element of its `qualifier.array` column, the
  * element as the new column `qualifier.name`, the array itself dropped.
  *
  * The Dataset API's `explode(...).as(name)` always yields an unqualified
  * column, so a relationship alias exploded after a join could no longer
  * be addressed as `r.__dst`. SQL's LATERAL VIEW carries a qualifier;
  * this builds the same `Generate` node directly. Lives under
  * `org.apache.spark.sql` because `Dataset.ofRows` and `logicalPlan` are
  * `private[sql]`. */
object QualifiedExplode {

  def apply(df: DataFrame, qualifier: String, array: String, name: String): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[_]]
    val child = ds.logicalPlan
    val arrayAt = child.output.indexWhere(a => a.name == array && a.qualifier == Seq(qualifier))
    require(arrayAt >= 0, s"no column $qualifier.$array")
    val gen = Generate(Explode(child.output(arrayAt)),
      unrequiredChildIndex = Seq(arrayAt), outer = false, qualifier = Some(qualifier),
      generatorOutput = Seq(UnresolvedAttribute(name)), child = child)
    classic.Dataset.ofRows(ds.sparkSession, gen)
  }
}
