package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{GraftExtensions, GraftFunctions}

/** A session built with [[GraftExtensions]] exposes the same SQL surface
  * as [[GraftFunctions.register]]: both come from one function table. */
class GraftExtensionsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("a GraftExtensions session resolves every graft function in SQL") {
    val base = spark
    // create(), not getOrCreate(): the latter hands back the base session
    val s = SparkSession.builder().withExtensions(new GraftExtensions).create()
    // create() makes the new session the default and active one
    SparkSession.setDefaultSession(base)
    SparkSession.setActiveSession(base)
    assert(s ne base)
    for ((name, _, _) <- GraftFunctions.table)
      assert(s.sql(s"DESCRIBE FUNCTION $name").collect().nonEmpty, name)
    assert(s.sql("SELECT round_cents(305.275D)").head().getDouble(0) === 305.27)
  }
}
